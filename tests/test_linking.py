"""Linking-cascade unit tests, mirroring the reference's acceptance-rule
tests (tests/trait_mapping/test_trait.py:17-57, test_main.py).
"""

import pytest
from pyspark.sql import functions as F

from eva_opentargets_spark.operators.linking import (
    exact_normalized_links,
    fuzzy_candidates,
    link_canonical,
    link_cascade,
    link_fuzzy,
)
from eva_opentargets_spark.pipeline import MATCH_TYPES, link_counters


def _mentions(spark, names):
    return spark.createDataFrame([(n,) for n in names], "mention_norm string")


def test_exact_unambiguous(spark, terms):
    # J1 — uniqueness rule (ols.py:158-160): 'spark' -> 1 IRI, accepted;
    # 'merge' -> 2 IRIs, rejected.
    exact, _, _ = exact_normalized_links(_mentions(spark, ["spark", "merge"]), terms)
    links = {r.mention_norm: r for r in exact.collect()}
    assert links["spark"].term_id == "EFO:0001"
    assert links["spark"].match_type == "exact"
    assert "merge" not in links


def test_exact_skips_obsolete_and_foreign(spark, terms):
    # exact matching searches only current in-target terms (ols.py:139-147
    # queries the target ontology; obsolete handled downstream)
    exact, _, _ = exact_normalized_links(_mentions(spark, ["slow", "vector"]), terms)
    links = exact.collect()
    assert links == []


def test_fuzzy_tiers_and_threshold(spark, terms):
    # lev<=1 -> HIGH; short mentions can't fuzzy (max_lev=0 for len<=4)
    cands = fuzzy_candidates(_mentions(spark, ["query", "dup", "row"]), terms).collect()
    by = {(r.mention_norm, r.term_id): r for r in cands}
    assert by[("query", "EFO:0015")].confidence == "HIGH"
    assert by[("query", "EFO:0015")].lev == 1
    assert by[("dup", "MONDO:0012")].lev == 0  # exact-label candidate ok
    assert not any(r.mention_norm == "row" for r in cands)  # no label within lev 0


def test_fuzzy_acceptance_rule(spark, terms):
    # trait.py:61-67 — in_ontology AND is_current AND (HIGH or label==mention)
    cands = fuzzy_candidates(_mentions(spark, ["merge", "slow", "vector"]), terms)
    accepted = {(r.mention_norm, r.term_id) for r in link_fuzzy(cands).collect()}
    # ambiguous exact -> both fuzzy-accepted (label == mention)
    assert ("merge", "EFO:0006") in accepted and ("merge", "EFO:0007") in accepted
    # obsolete (not current) and foreign (not in ontology) rejected
    assert not any(m in ("slow", "vector") for m, _ in accepted)


def test_xref_gate(spark, terms):
    # main.py:59-63 — xref only when candidates exist and NONE is current.
    # Every candidate term gets a distance-1 edge to a current target, so
    # the mentions that reach the xref tier are exactly the gated ones.
    cands = fuzzy_candidates(_mentions(spark, ["merge", "vector", "slow"]), terms)
    to_target = [(r.term_id, "EFO:0001", 1, "test") for r in cands.select("term_id").distinct().collect()]
    xrefs = spark.createDataFrame(to_target, "src_curie string, dst_curie string, distance int, source string")
    links = link_canonical(cands, terms, xrefs)
    gated = {r.mention_norm for r in links.filter(F.col("match_type") == "xref").collect()}
    assert gated == {"vector", "slow"}  # 'merge' has current candidates


def test_xref_distance_rule(spark, terms, xrefs):
    # trait.py:76 — accept only distance == 1
    cands = fuzzy_candidates(_mentions(spark, ["vector", "dup"]), terms)
    links = {r.mention_norm: r for r in link_canonical(cands, terms, xrefs).collect()}
    assert links["vector"].term_id == "EFO:0011"
    assert links["vector"].pred == "is_a"
    assert "dup" not in links  # only a distance-2 edge exists


def test_replacement_depth1(spark, terms, xrefs):
    # ols.py:111-134 — obsolete term chases replaced_by once
    cands = fuzzy_candidates(_mentions(spark, ["slow"]), terms)
    links = link_canonical(cands, terms, xrefs).collect()
    assert len(links) == 1 and links[0].term_id == "EFO:0009" and links[0].pred == "is_a"
    assert links[0].match_type == "replacement"


def test_cascade_early_exit_and_partition(spark, terms, xrefs):
    # process_trait early exit (main.py:52-55): exact-resolved mentions never
    # produce fuzzy links; stages partition the mention set.
    names = ["spark", "merge", "slow", "vector", "dup", "query", "batch"]
    dm = _mentions(spark, names).withColumn("freq", F.lit(1))
    links, cands, unresolved = link_cascade(dm, terms, xrefs)
    got = {(r.mention_norm, r.match_type) for r in links.collect()}
    assert ("spark", "exact") in got
    assert ("batch", "normalized") in got  # "batch!" folds to "batch"
    assert ("merge", "fuzzy") in got and ("query", "fuzzy") in got
    assert ("vector", "xref") in got
    assert ("slow", "replacement") in got
    un = {r.mention_norm for r in unresolved.collect()}
    assert un == {"dup"}
    # mapped + unmapped partition the input (test_main.py:58-65 analog)
    linked = {m for m, _ in got}
    assert linked | un == set(names) and not linked & un


def test_link_counters_sum_to_distinct_mentions(spark, terms, xrefs):
    # mentions_distinct is derived as sum(linked_*) + unmapped; on a
    # dictionary reaching all five tiers it must equal a direct count
    names = ["spark", "merge", "slow", "vector", "dup", "query", "batch", "batch"]
    dm = _mentions(spark, names).groupBy("mention_norm").agg(F.count("*").alias("freq"))
    links, _, unresolved = link_cascade(dm, terms, xrefs)
    counters = dict(link_counters(links, unresolved))
    assert all(counters[f"linked_{mt}"] > 0 for mt in MATCH_TYPES)
    assert counters["unmapped"] > 0
    assert counters["mentions_distinct"] == dm.select("mention_norm").distinct().count()


@pytest.mark.parametrize(
    "mention,expected_terms",
    [
        ("spark", {"EFO:0001"}),
        ("merge", {"EFO:0006", "EFO:0007"}),
        ("slow", {"EFO:0009"}),
        ("vector", {"EFO:0011"}),
        ("batch", {"EFO:0018"}),
        ("dup", set()),
    ],
)
def test_cascade_golden(spark, terms, xrefs, mention, expected_terms):
    links, _, _ = link_cascade(_mentions(spark, [mention]), terms, xrefs)
    assert {r.term_id for r in links.collect()} == expected_terms


def test_replacement_yields_to_fuzzy_precedence(spark, xrefs):
    """Round-6 cascade rewrite pin: a mention whose lev==0 candidate is
    obsolete-with-replacement AND that separately has a CURRENT accepted
    fuzzy candidate must link only via the fuzzy tier — replacement runs
    on the post-fuzzy remainder (the old anti-join ladder), now expressed
    as min-tier-per-mention precedence."""
    from eva_opentargets_spark.schemas import ONTOLOGY_TERMS

    rows = [
        # obsolete term whose label exactly equals the mention, replaced by EFO:9902
        ("EFO:9901", "http://x/9901", "EFO", "twinkle", None, True, True, "EFO:9902"),
        # current replacement target
        ("EFO:9902", "http://x/9902", "EFO", "twinkle disorder", None, True, False, None),
        # current term one edit away from the mention -> accepted HIGH fuzzy
        ("EFO:9903", "http://x/9903", "EFO", "twinkles", None, True, False, None),
    ]
    terms = spark.createDataFrame(rows, ONTOLOGY_TERMS)
    links, cands, unresolved = link_cascade(_mentions(spark, ["twinkle"]), terms, xrefs)
    got = {(r.mention_norm, r.term_id, r.match_type) for r in links.collect()}
    assert got == {("twinkle", "EFO:9903", "fuzzy")}
    assert unresolved.count() == 0
