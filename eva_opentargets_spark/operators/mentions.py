"""Mention extraction over transcript text.

Reference analog: trait-name extraction + stop-list filtering
(cmat/trait_mapping/trait_names_parsing.py:8-53,
cmat/clinvar_xml_io/clinvar_trait.py:36-60, main.py:104-105).

Design (north_star): detection is ONE in-row JVM column expression
(:func:`mention_expr`) — no Python boundary, no shuffle — over
conv_id-bucketed partitions. The matcher is a token-gazetteer: text is
split on single spaces, and unigrams/bigrams are matched against the
candidate vocabulary. Batch, the wave job and streaming all use it; it
never mutates `text` (per-turn text-equality invariant).
"""

from __future__ import annotations

from functools import lru_cache

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


def _check_vocabulary(vocabulary: list[str]) -> tuple[list[str], list[str]]:
    """Split a gazetteer vocabulary into (unigrams, bigrams), rejecting
    3+-token terms: the matching contract (and the oracle's g1/g2 SQL) is
    unigram/bigram only, so a longer term is rejected loudly instead of
    silently never matching."""
    too_long = sorted(w for w in vocabulary if w.count(" ") > 1)
    if too_long:
        raise ValueError(
            f"vocabulary terms with >2 tokens unsupported by the unigram/bigram "
            f"gazetteer contract: {too_long[:5]}"
        )
    unigrams = sorted(w for w in vocabulary if " " not in w and w)
    bigrams = sorted(w for w in vocabulary if " " in w)
    return unigrams, bigrams


def mention_expr(vocabulary: list[str], text_col: str = "text") -> Column:
    """The gazetteer as ONE in-row column expression: tokens =
    split(lower(text), ' '); per position, a unigram hit (token in the
    unigram set) and a bigram hit (token + ' ' + next token in the bigram
    set), emitted pos-ascending with the unigram before the bigram at the
    same pos. Row-for-row equal to the token-loop reference semantics the
    DuckDB oracles pin (tests/test_mentions.py); zero Python boundary,
    codegen-friendly.

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
def cached_mention_expr(vocab_key: tuple[str, ...]) -> Column:
    """Memoized mention_expr (the expression depends only on the
    vocabulary; rebuilding its InSet trees per query is pure driver
    plan-construction latency — at 10k terms the first build takes
    seconds)."""
    return mention_expr(list(vocab_key))


def extract_turn_mentions(
    transcripts: DataFrame,
    vocabulary: list[str],
    include_invalid: bool = False,
) -> DataFrame:
    """ONE extraction pass: (conv_id, turn_idx, valid, ms: array<mention>).

    This is the single corpus-scan root of the whole pipeline: both the
    exploded occurrence view (:func:`occurrences`) and the in-row-distinct
    per-turn view (:func:`unique_per_turn`) derive from the `ms` column, so
    the gazetteer is evaluated exactly once per turn (the pipeline never
    re-extracts for the triple path).

    With include_invalid=True, excluded turns are kept with valid=false and
    an empty `ms` — the metrics pass (turns_total/turns_excluded and all
    mention counters) then needs only this one table.

    Matching runs in-row on the JVM (:func:`mention_expr`, memoized per
    vocabulary), so the scan has no Python evaluation node at any
    vocabulary size.
    """
    valid = turn_filter()
    ms = cached_mention_expr(tuple(vocabulary))
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
    # expression, which re-evaluates the extraction expression a second
    # time per row (no CSE between Filter and Generate). The null-filter on
    # the generate OUTPUT is free and semantically identical.
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
    # that would run the extraction expression twice
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
