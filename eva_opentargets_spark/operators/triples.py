"""Triple emission: join finished links back onto mention occurrences.

Reference analog: evidence-string generation
(cmat/output_generation/clinvar_to_evidence_strings.py:145-155,204-263) —
an evidence string is a reified (variant, association, disease) triple with
provenance; here the triple is (mention occurrence, mapped_to/is_a, term).

Scale shape: the link table is tiny (one row per distinct mention x accepted
candidate) -> broadcast hash join against the big occurrence table; dedup on
(subj, pred, obj) enforces the no-duplicate invariant
(pipelines/annotation_pipeline.nf:435-448).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TRIPLE_COLUMNS = [
    "subj",
    "pred",
    "obj",
    "conv_id",
    "turn_idx",
    "mention_text",
    "match_type",
    "confidence",
]


def emit_triples(mentions: DataFrame, links: DataFrame, unique_per_turn: bool = False) -> DataFrame:
    """mentions: occurrence rows (conv_id, turn_idx, pos, mention_norm);
    links: (mention_norm, term_id, match_type, confidence, pred).

    Dedup happens BEFORE the link join, on the narrow
    (conv_id, turn_idx, mention_norm) key: repeated occurrences within a turn
    are the only duplicate source (links are unique per mention x term).
    Callers that can produce per-turn-unique mentions without a shuffle
    (operators.mentions.unique_per_turn — array_distinct inside the
    extraction row) should pass unique_per_turn=True, making the whole
    triple path shuffle-free.
    """
    per_turn = mentions.select("conv_id", "turn_idx", "mention_norm")
    if not unique_per_turn:
        per_turn = per_turn.dropDuplicates(["conv_id", "turn_idx", "mention_norm"])
    return per_turn.join(F.broadcast(links), "mention_norm", "inner").select(
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"), "mention_norm").alias("subj"),
        F.col("pred"),
        F.col("term_id").alias("obj"),
        "conv_id",
        "turn_idx",
        F.col("mention_norm").alias("mention_text"),
        "match_type",
        "confidence",
    )


def assert_no_duplicate_triples(triples: DataFrame) -> None:
    """A4 — duplicate-detection invariant (annotation_pipeline.nf:435-448)."""
    dups = triples.groupBy("subj", "pred", "obj").count().filter(F.col("count") > 1)
    n = dups.limit(1).count()
    if n:
        raise AssertionError("duplicate (subj, pred, obj) triples emitted")


def to_json_evidence(triples: DataFrame) -> DataFrame:
    """Evidence-string style JSON rendering (F10 analog:
    clinvar_to_evidence_strings.py:204-263 null-stripped dict ->
    to_json(..., ignoreNullFields))."""
    return triples.select(
        F.to_json(
            F.struct(*[F.col(c) for c in TRIPLE_COLUMNS]),
            {"ignoreNullFields": "true"},
        ).alias("evidence")
    )
