"""The entity-linking cascade over DISTINCT mentions.

Reference analog: process_trait (cmat/trait_mapping/main.py:34-75) —
exact match first (early exit), then fuzzy candidates (ZOOMA analog,
zooma.py:84-126), then xref traversal (OxO analog, oxo.py:182-209), with
the acceptance rules of cmat/trait_mapping/trait.py:56-81 and the
obsolete-replacement chase of ols.py:111-134.

Spark shape: every stage joins the (small, pre-deduplicated)
distinct-mention table against the broadcast ontology dictionary. Tiers 1+2
(exact, normalized) are one fold-keyed join + aggregation whose filters
give both tiers and the unresolved remainder; tiers 3-5 (fuzzy, xref,
replacement) all read one candidate table and keep, per mention, the
lowest tier that linked it (the priority-cascade pattern of
cmat/consequence_prediction/repeat_expansion_variants/pipeline.py:95-162,
without its anti-join ladder). Candidates are scored with JVM-side
`levenshtein`, or, above ARROW_FUZZY_TERM_THRESHOLD dictionary terms, by
the Arrow pandas UDF of fuzzy_udf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import (
    ACCEPT_XREF_DISTANCE,
    FUZZY_MAX_LEV,
    FUZZY_MIN_LEN_SLACK,
    PRED_CANONICAL,
    PRED_DIRECT,
)
from ..session import persist

LINK_COLUMNS = ["mention_norm", "term_id", "match_type", "confidence", "pred"]


def _current_in_target(terms: DataFrame) -> DataFrame:
    """Terms that are valid link targets: in the target ontology and not
    obsolete (is_current_and_in_ontology, cmat/trait_mapping/ols.py:82-95)."""
    return terms.filter(F.col("in_target_ontology") & ~F.col("is_obsolete"))


def label_surface(terms: DataFrame) -> DataFrame:
    """The full match surface: one row per (term, label-or-synonym),
    carrying the term's link-target metadata. The reference matches against
    synonym sets from OLS payloads (annotated_clinvar.py:161-170; OLS terms
    carry synonym lists) — here the `synonyms` array column of the ontology
    dimension is exploded next to the primary label."""
    base = terms.select("term_id", "label", "in_target_ontology", "is_obsolete", "replaced_by")
    if "synonyms" not in terms.columns:
        return base
    syn = (
        terms.filter(F.col("synonyms").isNotNull())
        .select(
            "term_id",
            F.explode("synonyms").alias("label"),
            "in_target_ontology",
            "is_obsolete",
            "replaced_by",
        )
    )
    return base.unionByName(syn)


def _fold(col):
    """Normalization fold: lowercase, punctuation -> space, collapse
    whitespace (the SURVEY §7.2 'normalized match' tier: casefold +
    punctuation/whitespace fold)."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", " "), r"\s+", " "))


def exact_normalized_links(
    mentions: DataFrame, terms: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """J1 + the normalized tier. Returns (exact, normalized, unresolved).

    Exact: case-insensitive equality against current in-target labels AND
    synonyms; a mention links only if it matches exactly ONE distinct term
    (cmat/trait_mapping/ols.py:156-160: `len(candidates) == 1` — matching
    the same term via label and synonym still counts as one). Normalized:
    the same uniqueness rule on punctuation/whitespace-folded strings, for
    mentions the exact tier left unlinked (FIXTURES.md §6). min(term_id)
    is the deterministic representative (all term_ids are equal when
    n == 1). `unresolved` holds the mentions neither tier linked.

    Both tiers come from ONE broadcast join + aggregation. Exact equality
    implies fold equality (the fold is a pure function of the string), so
    a single join on the FOLDED key captures both tiers' match sets; per
    mention, one aggregation counts distinct terms among exact-equal
    matches and among all fold matches, and the tiers' uniqueness rules
    read off those counts (n_exact >= 2 implies n_fold >= 2, so
    "exact-unlinked AND fold-unique" is the normalized admission). The
    join is LEFT: unmatched mentions keep a row with NULL term_id
    (count_distinct ignores it -> n_fold = 0), so `unresolved` is a filter
    of the same aggregate, which is persisted for its three consumers.
    """
    surface = _current_in_target(label_surface(terms)).select(
        F.lower("label").alias("label_norm"), "term_id"
    )
    surface = surface.withColumn("label_fold", _fold(F.col("label_norm")))
    is_exact = F.col("mention_norm") == F.col("label_norm")
    tier12 = persist(
        mentions.select("mention_norm")
        .withColumn("mention_fold", _fold(F.col("mention_norm")))
        .join(F.broadcast(surface), F.col("mention_fold") == F.col("label_fold"), "left")
        .groupBy("mention_norm")
        .agg(
            F.count_distinct(F.when(is_exact, F.col("term_id"))).alias("n_exact"),
            F.min(F.when(is_exact, F.col("term_id"))).alias("exact_term"),
            F.count_distinct("term_id").alias("n_fold"),
            F.min("term_id").alias("fold_term"),
        )
    )

    def _tier(term_col: str, match_type: str) -> list:
        return [
            "mention_norm",
            F.col(term_col).alias("term_id"),
            F.lit(match_type).alias("match_type"),
            F.lit("HIGH").alias("confidence"),
            F.lit(PRED_DIRECT).alias("pred"),
        ]

    exact = tier12.filter(F.col("n_exact") == 1).select(*_tier("exact_term", "exact"))
    not_exact = F.col("n_exact") != 1
    normalized = tier12.filter(not_exact & (F.col("n_fold") == 1)).select(
        *_tier("fold_term", "normalized")
    )
    unresolved = tier12.filter(not_exact & (F.col("n_fold") != 1)).select("mention_norm")
    return exact, normalized, unresolved


def fuzzy_candidates(mentions: DataFrame, terms: DataFrame) -> DataFrame:
    """J2 — candidate generation (ZOOMA analog). The reference consumes an
    external service's candidates; this engine defines them natively:
    Levenshtein distance between the mention and every dictionary label,
    admitted when lev <= least(FUZZY_MAX_LEV, greatest(0, length(mention) - 4)).

    Confidence tiers (ZoomaConfidence analog, zooma.py:12-29):
    lev<=1 -> HIGH, lev==2 -> GOOD, lev==3 -> MEDIUM.
    in_ontology / is_current carry the OLS semantics of zooma.py:109-124
    (is_current is only meaningful for in-target terms).

    Scale note: the join carries a length-band pre-filter
    (|len(m)-len(label)| <= lev bound, a Levenshtein lower bound) so Catalyst
    can avoid the full cartesian blow-up on large dictionaries; it never
    changes results.
    """
    m = mentions.select("mention_norm").withColumn(
        "max_lev",
        F.least(
            F.lit(FUZZY_MAX_LEV),
            F.greatest(F.lit(0), F.length("mention_norm") - F.lit(FUZZY_MIN_LEN_SLACK)),
        ),
    )
    t = label_surface(terms).select(
        "term_id",
        F.lower("label").alias("label_norm"),
        F.col("in_target_ontology").alias("in_ontology"),
        (F.col("in_target_ontology") & ~F.col("is_obsolete")).alias("is_current"),
        "is_obsolete",
        "replaced_by",
    )
    # Join ONLY on the cheap length-band lower bound; Levenshtein is computed
    # once, in the projection, and the real threshold is applied as a
    # post-join filter. (Putting levenshtein in the join predicate AND the
    # projection makes Catalyst evaluate it twice — no CSE across join
    # condition and project.)
    joined = m.join(
        F.broadcast(t),
        F.abs(F.length("mention_norm") - F.length("label_norm")) <= F.col("max_lev"),
        "inner",
    ).withColumn("lev", F.levenshtein("mention_norm", "label_norm"))
    return joined.filter(F.col("lev") <= F.col("max_lev")).select(
        "mention_norm",
        "term_id",
        "label_norm",
        "in_ontology",
        "is_current",
        "is_obsolete",
        "replaced_by",
        "lev",
        F.when(F.col("lev") <= 1, "HIGH")
        .when(F.col("lev") == 2, "GOOD")
        .otherwise("MEDIUM")
        .alias("confidence"),
    )


def link_fuzzy(candidates: DataFrame) -> DataFrame:
    """Fuzzy acceptance rule (cmat/trait_mapping/trait.py:61-67): accept a
    candidate iff in_ontology AND is_current AND (HIGH confidence OR the
    candidate label equals the mention). One link per (mention, term): when
    a term is reachable through several surface variants (label + synonym),
    the best (lowest-lev) variant sets the confidence — keeps links unique
    per mention x term, which the triple no-duplicate invariant relies on."""
    accepted = candidates.filter(
        F.col("in_ontology")
        & F.col("is_current")
        & ((F.col("confidence") == "HIGH") | (F.col("label_norm") == F.col("mention_norm")))
    )
    best = accepted.groupBy("mention_norm", "term_id").agg(F.min("lev").alias("lev"))
    return best.select(
        "mention_norm",
        "term_id",
        F.lit("fuzzy").alias("match_type"),
        F.when(F.col("lev") <= 1, "HIGH")
        .when(F.col("lev") == 2, "GOOD")
        .otherwise("MEDIUM")
        .alias("confidence"),
        F.lit(PRED_DIRECT).alias("pred"),
    )


def xref_gate(candidates: DataFrame) -> DataFrame:
    """Mentions eligible for xref traversal (cmat/trait_mapping/main.py:59-63):
    they must HAVE candidates but NONE of them current."""
    return (
        candidates.groupBy("mention_norm")
        .agg(F.max(F.col("is_current").cast("int")).alias("any_current"))
        .filter(F.col("any_current") == 0)
        .select("mention_norm")
    )


def link_xref(
    unresolved: DataFrame,
    candidates: DataFrame,
    xrefs: DataFrame,
    terms: DataFrame,
    accept_distance: int = ACCEPT_XREF_DISTANCE,
) -> DataFrame:
    """J3 — xref canonicalization (OxO analog).

    Seeds are the HIGH-confidence candidate terms of gated mentions
    (get_uris_for_oxo, main.py:18-31); an edge is accepted iff
    distance == 1 and its destination is current in the target ontology
    (trait.py:69-81). The xref table is a dimension -> broadcast joins;
    bounded multi-hop traversal lives in operators/xref_bfs.py.
    """
    gated = unresolved.join(F.broadcast(xref_gate(candidates)), "mention_norm", "inner")
    seeds = (
        gated.join(F.broadcast(candidates.filter(F.col("confidence") == "HIGH")), "mention_norm", "inner")
        .select("mention_norm", F.col("term_id").alias("seed_id"))
        .distinct()
    )
    edges = xrefs.filter(F.col("distance") == accept_distance).select(
        F.col("src_curie").alias("seed_id"), F.col("dst_curie").alias("dst_id")
    )
    targets = _current_in_target(terms).select(F.col("term_id").alias("dst_id"))
    return (
        seeds.join(F.broadcast(edges), "seed_id", "inner")
        .join(F.broadcast(targets), "dst_id", "inner")
        .select(
            "mention_norm",
            F.col("dst_id").alias("term_id"),
            F.lit("xref").alias("match_type"),
            F.lit("HIGH").alias("confidence"),
            F.lit(PRED_CANONICAL).alias("pred"),
        )
        .distinct()
    )


def link_replacement(unresolved: DataFrame, candidates: DataFrame, terms: DataFrame) -> DataFrame:
    """J10 — obsolete-term replacement resolution (ols.py:111-134 +
    create_table_for_manual_curation.py:24-37, depth 1): a mention whose
    label-equal (lev==0) candidate is obsolete-with-replacement links to the
    replacement term, provided the replacement is current in target."""
    obsolete_exact = candidates.filter(
        (F.col("lev") == 0) & F.col("is_obsolete") & F.col("replaced_by").isNotNull()
    ).select("mention_norm", "replaced_by")
    replacement = _current_in_target(terms).select(F.col("term_id").alias("replaced_by"), F.col("term_id"))
    return (
        unresolved.join(F.broadcast(obsolete_exact), "mention_norm", "inner")
        .join(F.broadcast(replacement), "replaced_by", "inner")
        .select(
            "mention_norm",
            "term_id",
            F.lit("replacement").alias("match_type"),
            F.lit("HIGH").alias("confidence"),
            F.lit(PRED_CANONICAL).alias("pred"),
        )
        .distinct()
    )


# Above this many dictionary terms, the JVM broadcast length-band join is
# replaced by the Arrow length-band-indexed pandas UDF (fuzzy_udf.py), whose
# per-mention work is O(band), not O(|dictionary|). The two paths are
# row-for-row identical (tests/test_fuzzy_udf.py asserts it). Threshold set
# from measurement (BENCH.md round-3 JVM-vs-Arrow table, numpy-vectorized
# scorer): crossover lies between 1k and 10k terms; Arrow wins 1.8x at 10k
# and 3.1x at 100k, JVM wins 1.6x at 1k.
ARROW_FUZZY_TERM_THRESHOLD = 10_000


def link_cascade(
    distinct_mentions: DataFrame, terms: DataFrame, xrefs: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full cascade. Returns (links, candidates, unresolved).

    Stage order and early-exit mirror main.py:34-75: exact-resolved mentions
    never reach the fuzzy stage, fuzzy-resolved never reach xref, etc. —
    tiers 1+2 are filters of one aggregate (exact_normalized_links) and
    tiers 3-5 are resolved by precedence over one candidate table.

    Scale shape: every table after the distinct-mention input is
    dictionary-sized, so each join is broadcast-hinted. The tier-1+2
    aggregate, the candidate table and the links are persisted through
    session.persist; the caller's Persisted owner releases them.

    Fuzzy candidates come from the Arrow length-band UDF when the
    dictionary exceeds ARROW_FUZZY_TERM_THRESHOLD terms (the broadcast
    nested-loop join stops being sane around there), else from the JVM
    broadcast levenshtein join.
    """
    # The distinct-mention table is dictionary-scale BY DESIGN (the A1
    # pre-aggregation already collapsed the corpus); coalesce it so every
    # cascade stage is a single-task job instead of shuffle-partition-many
    # near-empty tasks. Raise the 1 if distinct mentions ever reach the
    # hundreds of millions.
    mentions = distinct_mentions.select("mention_norm").coalesce(1)
    exact, normalized, unresolved1 = exact_normalized_links(mentions, terms)

    # dictionary row count for the Arrow-vs-JVM gate, cached on the
    # (memoized) terms frame so repeated cascade builds in one session
    # pay the count job once
    n_terms = getattr(terms, "_cascade_term_count", None)
    if n_terms is None:
        n_terms = terms.count()
        terms._cascade_term_count = n_terms
    if n_terms > ARROW_FUZZY_TERM_THRESHOLD:
        from .fuzzy_udf import fuzzy_candidates_arrow

        cands = persist(fuzzy_candidates_arrow(unresolved1, terms))
    else:
        cands = persist(fuzzy_candidates(unresolved1, terms))

    # --- Tiers 3-5 from the ONE persisted candidate table, with tier
    # PRECEDENCE as a window instead of an anti-join ladder (round 6):
    # * fuzzy and xref mention sets are disjoint by construction — the
    #   xref gate (has candidates, NONE current) and fuzzy acceptance
    #   (REQUIRES a current candidate) are mutually exclusive, so
    #   link_xref over unresolved1 equals the old post-fuzzy run exactly;
    # * replacement is the only tier needing a guard (an obsolete lev==0
    #   candidate can coexist with other current/xref-resolving ones):
    #   min-tier-per-mention over the union keeps a replacement row only
    #   when its mention has no tier-3/4 row — the old unresolved3
    #   membership, without the two chained broadcast anti-joins.
    fuzzy = link_fuzzy(cands).withColumn("tier", F.lit(3))
    xref = link_xref(unresolved1, cands, xrefs, terms).withColumn("tier", F.lit(4))
    repl = link_replacement(unresolved1, cands, terms).withColumn("tier", F.lit(5))
    from pyspark.sql import Window

    w = Window.partitionBy("mention_norm")
    links345 = (
        fuzzy.unionByName(xref)
        .unionByName(repl)
        .withColumn("__min_tier", F.min("tier").over(w))
        .filter(F.col("tier") == F.col("__min_tier"))
        .select(*LINK_COLUMNS)
    )

    links = persist(exact.unionByName(normalized).unionByName(links345).select(*LINK_COLUMNS))
    # the final remainder is LAZY (only kg_unmapped/curation consumers
    # materialize it): unresolved1 minus every tier-3/4/5-linked mention
    unresolved4 = unresolved1.join(
        links345.select("mention_norm").distinct(), "mention_norm", "left_anti"
    )
    return links, cands, unresolved4
