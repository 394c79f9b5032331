"""Mention extraction over transcript text.

Reference analog: trait-name extraction + stop-list filtering
(cmat/trait_mapping/trait_names_parsing.py:8-53,
cmat/clinvar_xml_io/clinvar_trait.py:36-60, main.py:104-105).

Design (north_star): all detection runs through a vectorized pandas/Arrow
UDF — no per-row Python — over conv_id-bucketed partitions, so this stage
is narrow (no shuffle). The matcher is a token-gazetteer: text is split on
single spaces, and unigrams/bigrams are matched against the candidate
vocabulary. The UDF never mutates `text` (per-turn text-equality invariant).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from ..config import EXCLUDED_TOOLS, STOPLIST

MENTION_STRUCT = ArrayType(
    StructType(
        [
            StructField("pos", IntegerType(), False),
            StructField("mention_norm", StringType(), False),
        ]
    )
)


def turn_filter(excluded_tools: frozenset[str] = EXCLUDED_TOOLS) -> Column:
    """The turn-level admission predicate (P3/P4-lite): non-empty text and
    not produced by an excluded tool (cmat/clinvar_xml_io/filtering.py:4-12)."""
    return (
        F.col("text").isNotNull()
        & (F.col("text") != "")
        & (F.col("tool").isNull() | ~F.col("tool").isin(*sorted(excluded_tools)))
    )


def valid_turns(transcripts: DataFrame) -> DataFrame:
    return transcripts.filter(turn_filter())


def _gazetteer_pattern(terms: list[str]):
    """Zero-width gazetteer regex: at each token boundary, capture a vocab
    term bounded by (start|space) and (space|end). The whole match is a
    lookahead, so overlapping terms (nested unigrams inside bigrams,
    adjacent bigrams sharing a token) are all found. Longest-alternative
    ordering makes prefix-sharing terms resolve by full-token equality."""
    import re

    alts = "|".join(re.escape(t) for t in sorted(terms, key=len, reverse=True))
    return re.compile(r"(?=(?:^|\ )(" + alts + r")(?:\ |$))")


def _check_vocabulary(vocabulary: list[str]) -> tuple[list[str], list[str]]:
    """Split a gazetteer vocabulary into (unigrams, bigrams), rejecting
    3+-token terms (the unigram/bigram matching contract — see
    make_extract_udf)."""
    too_long = sorted(w for w in vocabulary if w.count(" ") > 1)
    if too_long:
        raise ValueError(
            f"vocabulary terms with >2 tokens unsupported by the unigram/bigram "
            f"gazetteer contract: {too_long[:5]}"
        )
    unigrams = sorted(w for w in vocabulary if " " not in w and w)
    bigrams = sorted(w for w in vocabulary if " " in w)
    return unigrams, bigrams


# Above this many vocabulary terms the in-row JVM gazetteer (whose InSet
# literals live in the plan) hands off to the Arrow UDF, whose closure ships
# once per executor — the dictionary-literal size gate, same discipline as
# MAPPING_LITERAL_THRESHOLD. Well below the gate the expression path wins
# outright: the match is two O(1) hash-set probes per token inside
# whole-stage codegen, with no JVM->Python Arrow transpose (guide §4.1:
# built-ins beat any UDF when they exist).
GAZETTEER_EXPR_MAX_TERMS = 10_000


def mention_expr(vocabulary: list[str], text_col: str = "text") -> Column:
    """The gazetteer as ONE in-row column expression: tokens =
    split(lower(text), ' '); per position, a unigram hit (token in the
    unigram set) and a bigram hit (token + ' ' + next token in the bigram
    set), emitted pos-ascending with the unigram before the bigram at the
    same pos — exactly the pandas UDF's (pos, space-count) sort order.
    Row-for-row equal to make_extract_udf (pinned by
    tests/test_mentions.py); zero Python boundary, codegen-friendly.

    The token array is bound once per row (`_bind_once`): Catalyst has no
    CSE across the per-position lambda's references."""
    from ..functions.text import _bind_once

    unigrams, bigrams = _check_vocabulary(vocabulary)
    toks = F.split(F.lower(F.col(text_col)), " ")

    def compute(tt: Column) -> Column:
        n = F.size(tt)

        def hits_at(i: Column) -> Column:
            entries = []
            uni = F.get(tt, i)
            if unigrams:
                entries.append(
                    F.when(
                        uni.isin(*unigrams),
                        F.struct(i.cast("int").alias("pos"), uni.alias("mention_norm")),
                    )
                )
            if bigrams:
                big = F.concat_ws(" ", uni, F.get(tt, i + 1))
                entries.append(
                    F.when(
                        (i < n - 1) & big.isin(*bigrams),
                        F.struct(i.cast("int").alias("pos"), big.alias("mention_norm")),
                    )
                )
            return F.array(*entries)

        if not (unigrams or bigrams):
            return F.array().cast(MENTION_STRUCT)
        return F.filter(
            F.flatten(F.transform(F.sequence(F.lit(0), n - 1), hits_at)),
            lambda m: m.isNotNull(),
        )

    return _bind_once(toks, compute)


@lru_cache(maxsize=8)
def _mention_expr_cached(vocab_key: tuple[str, ...]) -> Column:
    """Memoized mention_expr (the expression depends only on the
    vocabulary; rebuilding its InSet trees per query is pure driver
    plan-construction latency)."""
    return mention_expr(list(vocab_key))


def make_extract_udf(vocabulary: list[str]):
    """Build the vectorized gazetteer UDF for a candidate-mention vocabulary.

    Matching semantics (unchanged since round 1, and pinned by the DuckDB
    oracles): tokens = text.lower().split(' ') (single-space, preserving
    empties so positions are stable); a unigram match is a token equal to a
    vocab word; a bigram match is `tok[i] + ' ' + tok[i+1]`; pos = index of
    the first token; overlaps are allowed (the reference keeps every trait
    name it sees). The vocabulary is captured in the closure and shipped
    once per executor — the Arrow-side analog of the broadcast dictionary.

    Implementation (round-2): the per-token Python loop is replaced by two
    compiled zero-width regex scans (unigrams, bigrams) — the scan runs in
    the C regex engine, and `pos` is recovered as the space count before
    the capture offset (C-speed str.count). ~3-5x faster per row; the
    equality of the two implementations is pinned by
    tests/test_mentions.py::test_regex_extractor_equals_token_loop.
    """
    # The matching contract (and the oracle's g1/g2 SQL) is unigram/bigram
    # only: a 3+-token term would match here via the bigram regex but never
    # in the token-loop reference or the DuckDB twin — reject it loudly
    # instead of silently diverging.
    unigrams, bigrams = _check_vocabulary(vocabulary)
    uni_pat = _gazetteer_pattern(unigrams) if unigrams else None
    big_pat = _gazetteer_pattern(bigrams) if bigrams else None

    @F.pandas_udf(MENTION_STRUCT)
    def extract(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            if text is None:
                out.append([])
                continue
            low = text.lower()
            hits = []
            for pat in (uni_pat, big_pat):
                if pat is None:
                    continue
                for m in pat.finditer(low):
                    start = m.start(1)
                    hits.append({"pos": low.count(" ", 0, start), "mention_norm": m.group(1)})
            # stable order: by position, unigram/bigram interleaved as the
            # token loop emitted them (pos asc, then shorter first)
            hits.sort(key=lambda h: (h["pos"], h["mention_norm"].count(" ")))
            out.append(hits)
        return pd.Series(out)

    return extract


def extract_turn_mentions(
    transcripts: DataFrame,
    vocabulary: list[str],
    include_invalid: bool = False,
) -> DataFrame:
    """ONE extraction pass: (conv_id, turn_idx, valid, ms: array<mention>).

    This is the single corpus-scan root of the whole pipeline: both the
    exploded occurrence view (:func:`occurrences`) and the in-row-distinct
    per-turn view (:func:`unique_per_turn`) derive from the `ms` column, so
    the pandas UDF is applied exactly once per turn (fixes the round-1
    double-scan: pipeline no longer re-extracts for the triple path).

    With include_invalid=True, excluded turns are kept with valid=false and
    an empty `ms` — the metrics pass (turns_total/turns_excluded and all
    mention counters) then needs only this one table.

    Matching runs in-row on the JVM (mention_expr) for vocabularies under
    GAZETTEER_EXPR_MAX_TERMS; larger gazetteers keep the Arrow UDF whose
    vocabulary ships in the closure instead of the plan (round-6: the
    expression path removed the ArrowEvalPython node — and with it the
    JVM->Arrow->JVM transpose of every text row — from the flagship scan).
    """
    valid = turn_filter()
    if len(vocabulary) <= GAZETTEER_EXPR_MAX_TERMS:
        ms = _mention_expr_cached(tuple(vocabulary))
    else:
        ms = make_extract_udf(vocabulary)(F.col("text"))
    df = transcripts.select(
        "conv_id",
        "turn_idx",
        valid.alias("valid"),
        F.when(valid, ms).otherwise(F.lit(None).cast(MENTION_STRUCT)).alias("ms"),
    )
    if not include_invalid:
        df = df.filter("valid")
    return df.withColumn("ms", F.coalesce(F.col("ms"), F.array().cast(MENTION_STRUCT)))


def occurrences(
    extracted: DataFrame,
    drop_stoplisted: bool = True,
    stoplist: frozenset[str] = STOPLIST,
) -> DataFrame:
    """Exploded occurrence view of :func:`extract_turn_mentions` output:
    one row per mention occurrence (conv_id, turn_idx, pos, mention_norm).
    Narrow (explode only, no shuffle)."""
    # explode_outer + null-filter instead of explode: a plain explode makes
    # the optimizer infer a `size(ms) > 0` pre-filter on the generate INPUT
    # expression, which re-evaluates the extraction UDF a second time per
    # row (no CSE between Filter and Generate). The null-filter on the
    # generate OUTPUT is free and semantically identical.
    df = extracted.filter("valid").select(
        "conv_id", "turn_idx", F.explode_outer("ms").alias("m")
    ).filter(F.col("m").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.col("m.pos").alias("pos"),
        F.col("m.mention_norm").alias("mention_norm"),
    )
    if drop_stoplisted:
        df = df.filter(~F.col("mention_norm").isin(*sorted(stoplist)))
    return df


def unique_per_turn(
    extracted: DataFrame,
    stoplist: frozenset[str] = STOPLIST,
) -> DataFrame:
    """One row per DISTINCT (conv_id, turn_idx, mention_norm) — the dedup
    happens INSIDE each row (array_distinct on the same `ms` column) before
    the explode: scan -> array ops -> explode, ZERO shuffles. This is the
    triple-emission input (subj identity is per-turn, so per-turn uniqueness
    is all the dedup needed)."""
    names = F.array_distinct(F.transform("ms", lambda m: m["mention_norm"]))
    # explode_outer: see occurrences() — avoids the inferred size()>0 filter
    # that would run the extraction UDF twice
    return (
        extracted.filter("valid")
        .select("conv_id", "turn_idx", F.explode_outer(names).alias("mention_norm"))
        .filter(
            F.col("mention_norm").isNotNull()
            & ~F.col("mention_norm").isin(*sorted(stoplist))
        )
    )


def extract_mentions(
    transcripts: DataFrame,
    vocabulary: list[str],
    drop_stoplisted: bool = True,
    stoplist: frozenset[str] = STOPLIST,
) -> DataFrame:
    """Turns -> one row per mention occurrence (convenience composition of
    extract_turn_mentions + occurrences for single-view callers)."""
    return occurrences(
        extract_turn_mentions(transcripts, vocabulary),
        drop_stoplisted=drop_stoplisted,
        stoplist=stoplist,
    )


def unique_mentions_per_turn(
    transcripts: DataFrame,
    vocabulary: list[str],
    stoplist: frozenset[str] = STOPLIST,
) -> DataFrame:
    """Convenience composition: extract once, per-turn-distinct view."""
    return unique_per_turn(extract_turn_mentions(transcripts, vocabulary), stoplist=stoplist)


def distinct_mentions(mentions: DataFrame) -> DataFrame:
    """A1 — the skew-defeating distinct-mention pre-aggregation
    (cmat/trait_mapping/trait_names_parsing.py:24-53). Hot strings collapse
    to one row each BEFORE any link scoring, replacing the reference's
    lru_cache memoization with a shuffle whose partial (map-side) aggregation
    bounds skew. freq counts distinct (conv_id, turn) pairs like the
    reference counts distinct (RCV, name) tuples.
    """
    return mentions.groupBy("mention_norm").agg(
        F.count_distinct("conv_id", "turn_idx").alias("freq"),
        F.count("*").alias("occurrences"),
        F.count_distinct("conv_id").alias("n_conversations"),
    )


def distinct_mentions_with_stop_counts(
    mentions_all: DataFrame, stoplist: frozenset[str] = STOPLIST
) -> DataFrame:
    """A1 over the UNFILTERED occurrence view (stoplisted rows retained so
    the metrics pass can sum their occurrences from the same table), with
    the hot-key guard: stoplisted mentions are by construction the most
    frequent strings in the corpus, and routing them through the
    count_distinct(conv, turn) expansion would put one corpus-sized key on
    one reducer. Nulling the distinct-counted columns for stoplisted rows
    collapses each hot key to one null per partition map-side (count_distinct
    ignores nulls), so the skew never reaches the shuffle; their freq /
    n_conversations read 0, which nothing consumes — metrics only need their
    `occurrences` sum, and linking filters them out entirely."""
    not_stop = ~F.col("mention_norm").isin(*sorted(stoplist))
    return mentions_all.groupBy("mention_norm").agg(
        F.count_distinct(
            F.when(not_stop, F.struct("conv_id", "turn_idx"))
        ).alias("freq"),
        F.count("*").alias("occurrences"),
        F.count_distinct(F.when(not_stop, F.col("conv_id"))).alias("n_conversations"),
    )
