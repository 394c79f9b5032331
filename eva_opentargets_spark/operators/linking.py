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
without its anti-join ladder). Candidates come from one pigeonhole
signature equi-join verified with JVM-side `levenshtein`
(fuzzy_candidates); tiers 4+5 are one join of the candidates with a
canonical-edge table of xrefs and replacements (link_canonical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

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


def _segments(length):
    """Pigeonhole segment count of a string of `length` code points:
    FUZZY_MAX_LEV + 1, so that any FUZZY_MAX_LEV edits leave one segment
    intact. Strings shorter than that get one segment per character (they
    only ever match at lev 0, see fuzzy_candidates) and the empty string
    one empty segment, so `sequence(0, segments - 1)` never counts down."""
    return F.greatest(F.lit(1), F.least(F.lit(FUZZY_MAX_LEV + 1), length))


def _segment_bounds(i, length, segments) -> tuple:
    """(0-based start, length) of segment i when `length` code points are
    cut into `segments` near-equal pieces."""
    start = (i * length / segments).cast("int")
    end = ((i + 1) * length / segments).cast("int")
    return start, end - start


def fuzzy_candidates(mentions: DataFrame, terms: DataFrame) -> DataFrame:
    """J2 — candidate generation (ZOOMA analog). The reference consumes an
    external service's candidates; this engine defines them natively:
    Levenshtein distance between the mention and every dictionary label,
    admitted when lev <= least(FUZZY_MAX_LEV, greatest(0, length(mention) - 4)).
    `mentions` holds one row per mention_norm (the distinct-mention table).

    Confidence tiers (ZoomaConfidence analog, zooma.py:12-29):
    lev<=1 -> HIGH, lev==2 -> GOOD, lev==3 -> MEDIUM.
    in_ontology / is_current carry the OLS semantics of zooma.py:109-124
    (is_current is only meaningful for in-target terms).

    Scale shape: an exact signature equi-join (the pigeonhole partition
    filter of MF-Join / segment index, PAPERS.md), not a cross join. Each
    surface label of length L is cut into s = _segments(L) segments and
    indexed as (L, i, segment). A mention of length n with
    bound k can only match labels with L in [n-k, n+k], and any alignment
    with <= k < s edits leaves some segment i verbatim in the mention,
    moved by a shift d with |d| + |(n-L) - d| <= k (the edits before it
    account for d, those after for the rest of the length gap). Each mention
    emits those substrings, the broadcast index is probed on (L, i,
    segment), the hits are deduplicated to distinct (mention, label) pairs
    and verified with `levenshtein`, and the surface joins back on the
    label string, so label/synonym rows that repeat keep their
    multiplicity. Short labels need no special case: k > 0 forces
    L >= n - k >= 4 = s, and at k = 0 one intact character segment is enough.
    Lengths and substrings count code points on both sides.
    """
    n = F.length("mention_norm")
    k = F.least(F.lit(FUZZY_MAX_LEV), F.greatest(F.lit(0), n - F.lit(FUZZY_MIN_LEN_SLACK)))
    t = label_surface(terms).select(
        "term_id",
        F.lower("label").alias("label_norm"),
        F.col("in_target_ontology").alias("in_ontology"),
        (F.col("in_target_ontology") & ~F.col("is_obsolete")).alias("is_current"),
        "is_obsolete",
        "replaced_by",
    )

    L, i = F.col("L"), F.col("i")
    start, seg_len = _segment_bounds(i, L, _segments(L))
    segment_ids = F.explode(F.sequence(F.lit(0), _segments(L) - 1)).alias("i")

    # the index: one row per (surface label, segment); a label string that
    # repeats only repeats hits, which the pair dedup below collapses
    index = (
        t.filter(F.col("label_norm").isNotNull())
        .select("label_norm", F.length("label_norm").alias("L"))
        .select("*", segment_ids)
        .select("L", "i", F.substring("label_norm", start + 1, seg_len).alias("seg"), "label_norm")
    )

    # the probes: every substring that could be segment i of a label of
    # length L within the mention's bound, at every admissible shift
    gap = F.col("n") - L
    slack = ((F.col("max_lev") - F.abs(gap)) / 2).cast("int")
    shifts = F.sequence(F.least(F.lit(0), gap) - slack, F.greatest(F.lit(0), gap) + slack)
    at, width = F.col("start") + F.col("shift"), F.col("width")
    probes = (
        mentions.select("mention_norm", n.alias("n"), k.alias("max_lev"))
        .select("*", F.explode(F.sequence(n - k, n + k)).alias("L"))
        .select("*", segment_ids)
        .select("*", start.alias("start"), seg_len.alias("width"), F.explode(shifts).alias("shift"))
        .filter((at >= 0) & (at + width <= F.col("n")))
        .select("mention_norm", "max_lev", "L", "i",
                F.substring("mention_norm", at + 1, width).alias("seg"))
    )

    pairs = (
        probes.join(F.broadcast(index), ["L", "i", "seg"])
        .select("mention_norm", "max_lev", "label_norm")
        .distinct()
        # the banded form returns -1 past FUZZY_MAX_LEV instead of finishing the DP
        .withColumn("lev", F.levenshtein("mention_norm", "label_norm", FUZZY_MAX_LEV))
        .filter(F.col("lev").between(0, F.col("max_lev")))
    )
    return pairs.join(F.broadcast(t), "label_norm").select(
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


def _canonical_edges(terms: DataFrame, xrefs: DataFrame) -> DataFrame:
    """The tier-4/5 edge table (src, dst, tier), restricted to current
    in-target destinations (trait.py:69-81, ols.py:111-134):
    * tier 4 — xref edges at ACCEPT_XREF_DISTANCE (OxO analog; bounded
      multi-hop traversal lives in operators/xref_bfs.py);
    * tier 5 — obsolete term -> its replaced_by term (depth 1)."""
    xref = xrefs.filter(F.col("distance") == ACCEPT_XREF_DISTANCE).select(
        F.col("src_curie").alias("src"), F.col("dst_curie").alias("dst"), F.lit(4).alias("tier")
    )
    replacement = terms.filter(F.col("is_obsolete") & F.col("replaced_by").isNotNull()).select(
        F.col("term_id").alias("src"), F.col("replaced_by").alias("dst"), F.lit(5).alias("tier")
    )
    targets = _current_in_target(terms).select(F.col("term_id").alias("dst"))
    return xref.unionByName(replacement).join(F.broadcast(targets), "dst", "left_semi")


def link_canonical(candidates: DataFrame, terms: DataFrame, xrefs: DataFrame) -> DataFrame:
    """J3 + J10 — xref canonicalization (OxO analog) and obsolete-term
    replacement, as ONE broadcast join of the candidate table with the
    edge table of _canonical_edges.
    A candidate seeds
    * an xref edge when it is HIGH confidence and its mention has no
      current candidate (get_uris_for_oxo + the OxO gate, main.py:18-31,
      59-63), read off a per-mention window;
    * a replacement edge when it is the label-equal (lev == 0) obsolete
      term (create_table_for_manual_curation.py:24-37).
    Returns link rows plus their `tier`; link_cascade's min-tier window
    gives tier 4 precedence over tier 5 per mention."""
    per_mention = Window.partitionBy("mention_norm")
    any_current = F.max(F.col("is_current").cast("int")).over(per_mention) == 1
    seeds = candidates.select(
        "mention_norm",
        F.col("term_id").alias("src"),
        ((F.col("confidence") == "HIGH") & ~any_current).alias("xref_seed"),
        ((F.col("lev") == 0) & F.col("is_obsolete")).alias("replacement_seed"),
    )
    is_xref = F.col("tier") == 4
    return (
        seeds.join(F.broadcast(_canonical_edges(terms, xrefs)), "src")
        .filter(F.when(is_xref, F.col("xref_seed")).otherwise(F.col("replacement_seed")))
        .select(
            "mention_norm",
            F.col("dst").alias("term_id"),
            F.when(is_xref, "xref").otherwise("replacement").alias("match_type"),
            F.lit("HIGH").alias("confidence"),
            F.lit(PRED_CANONICAL).alias("pred"),
            "tier",
        )
        .distinct()
    )


def link_cascade(
    distinct_mentions: DataFrame, terms: DataFrame, xrefs: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full cascade. Returns (links, candidates, unresolved).

    Stage order and early-exit mirror main.py:34-75: exact-resolved mentions
    never reach the fuzzy stage, fuzzy-resolved never reach xref, etc. —
    tiers 1+2 are filters of one aggregate (exact_normalized_links) and
    tiers 3-5 are resolved by precedence over one candidate table.

    Scale shape: every table after the distinct-mention input is
    dictionary-sized, so each join is broadcast-hinted. The fuzzy
    candidates are one signature equi-join (fuzzy_candidates); tiers 4+5
    read them through one canonical-edge join (link_canonical). The
    tier-1+2 aggregate, the candidate table and the links are persisted
    through session.persist; the caller's Persisted owner releases them.
    """
    # The distinct-mention table is dictionary-scale BY DESIGN (the A1
    # pre-aggregation already collapsed the corpus); coalesce it so every
    # cascade stage is a single-task job instead of shuffle-partition-many
    # near-empty tasks. Raise the 1 if distinct mentions ever reach the
    # hundreds of millions.
    mentions = distinct_mentions.select("mention_norm").coalesce(1)
    exact, normalized, unresolved1 = exact_normalized_links(mentions, terms)
    cands = persist(fuzzy_candidates(unresolved1, terms))

    # --- Tiers 3-5 from the ONE persisted candidate table, with tier
    # PRECEDENCE as a window instead of an anti-join ladder:
    # * fuzzy and xref mention sets are disjoint by construction — the
    #   xref gate (has candidates, NONE current) and fuzzy acceptance
    #   (REQUIRES a current candidate) are mutually exclusive;
    # * replacement is the only tier needing a guard (an obsolete lev==0
    #   candidate can coexist with other current/xref-resolving ones):
    #   min-tier-per-mention over the union keeps a replacement row only
    #   when its mention has no tier-3/4 row.
    fuzzy = link_fuzzy(cands).withColumn("tier", F.lit(3))
    canonical = link_canonical(cands, terms, xrefs)
    links345 = (
        fuzzy.unionByName(canonical)
        .withColumn("__min_tier", F.min("tier").over(Window.partitionBy("mention_norm")))
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
