"""Structured Streaming ingest: incremental mention counting over a growing
transcript table.

The reference is pure batch (SURVEY.md §2.8) — this is the engine-new
streaming surface: the batch mention extraction (the in-row gazetteer
expression) applied to a file stream, with event-time windows + watermark
for late turns. At scale the source is an Iceberg/Kafka stream; here a
parquet directory exercised with Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.mentions import (
    cached_mention_expr,
    extract_turn_mentions,
    turn_filter,
    unique_per_turn,
)
from ..schemas import TRANSCRIPTS


def stream_mention_counts(
    spark: SparkSession,
    input_path: str,
    vocabulary: list[str],
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """readStream(parquet) -> extract mentions -> windowed counts.

    Returns an unstarted streaming DataFrame; callers attach writeStream
    (tests use format('memory') + trigger(availableNow=True)).
    """
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_path)
    # the batch gazetteer column itself: extract_turn_mentions drops `ts`,
    # which the watermark needs
    return (
        stream.filter(turn_filter())
        .withWatermark("ts", watermark)
        .select("ts", F.explode(cached_mention_expr(tuple(vocabulary))).alias("m"))
        .groupBy(F.window("ts", window).alias("w"), F.col("m.mention_norm").alias("mention_norm"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "mention_norm", "n")
    )


def stream_triples(
    spark: SparkSession,
    input_path: str,
    links: DataFrame,
    vocabulary: list[str],
    output_path: str,
    checkpoint_dir: str,
):
    """Streaming triple emission: new transcript files -> mention extraction
    (the batch extract_turn_mentions + unique_per_turn) -> broadcast join
    against a precomputed link table -> parquet append. Exactly-once via
    the streaming checkpoint (the engine-managed twin of
    plans/checkpoint.py). Returns the started query; callers await/stop it.

    Design note: the link table must be batch-precomputed (the cascade needs
    corpus-wide distinct mentions); streaming handles the corpus-scale,
    embarrassingly-parallel part — which is the right split at 10^12 turns.
    """
    from ..operators.triples import emit_triples

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_path)
    mentions = unique_per_turn(extract_turn_mentions(stream, vocabulary))
    triples = emit_triples(mentions, links, unique_per_turn=True)
    return (
        triples.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_dedup_docs(
    spark: SparkSession,
    input_path: str,
    schema: str = DOCUMENTS_SCHEMA,
    event_time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the ingest-time twin of dedup_exact /
    incremental_minhash_pairs: documents arrive as a file stream, each is
    fingerprinted (same content hash as the batch operator), and only the
    FIRST document per fingerprint is emitted; later arrivals of the same
    content — within a micro-batch, across micro-batches, or across query
    restarts — are dropped by the engine's keyed dedup state (which the
    streaming checkpoint persists, so exactly-once survives restarts).

    Scale shape: dropDuplicates state is hash-partitioned by fingerprint
    across executors and holds one entry per DISTINCT document ever seen —
    the right cost for a dedup boundary, but unbounded over an infinite
    stream. Pass `event_time_col` to switch to
    dropDuplicatesWithinWatermark: duplicates are only suppressed within
    the watermark horizon and state is evicted behind it — the production
    posture when dedup-at-ingest is backed by the batch dedup_exact sweep
    (which catches cross-horizon twins at rest)."""
    from ..functions.text import fingerprint

    stream = spark.readStream.schema(schema).parquet(input_path)
    docs = stream.withColumn("fingerprint", fingerprint(F.col("text")))
    if event_time_col is not None:
        return docs.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return docs.dropDuplicates(["fingerprint"])


def stream_near_dup_candidates(
    spark: SparkSession,
    input_path: str,
    corpus_bands: DataFrame,
    schema: str = DOCUMENTS_SCHEMA,
    n_hashes: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """Streaming near-dup detection at ingest: each arriving document's
    MinHash band keys are computed IN-ROW (the batch signature recipe as a
    pure column expression, dedup.minhash_sig_col) and probed against the
    materialized corpus band table via a stream-static equi-join on
    (band, band_key). Emits (doc_id, corpus_doc_id) candidate pairs —
    new-vs-corpus only; new-vs-new twins inside the stream are caught by
    the fingerprint-exact stream_dedup_docs upstream and the periodic
    batch incremental_minhash_pairs sweep (which also folds the day's
    docs into the corpus band table).

    Scale shape: the stream side is one micro-batch of band rows
    (n_bands per doc, built with zero shuffles); the static side is the
    band table bucketed by band_key, so the join is the ONLY shuffle and
    touches micro-batch-sized data. Pair emission is de-duplicated with
    keyed state bounded by n_bands per emitted pair — not by corpus
    size."""
    from ..operators.dedup import N_BANDS, N_MINHASHES, band_keys_col, minhash_sig_col

    nh = n_hashes if n_hashes is not None else N_MINHASHES
    nb = n_bands if n_bands is not None else N_BANDS
    stream = spark.readStream.schema(schema).parquet(input_path)
    probe = stream.select(
        "doc_id",
        F.posexplode(band_keys_col(minhash_sig_col("text", nh), nh, nb)).alias(
            "band", "band_key"
        ),
    )
    return (
        probe.alias("p")
        .join(corpus_bands.alias("c"), ["band", "band_key"])
        .filter(F.col("p.doc_id") != F.col("c.doc_id"))
        .select(F.col("p.doc_id").alias("doc_id"), F.col("c.doc_id").alias("corpus_doc_id"))
        .dropDuplicates(["doc_id", "corpus_doc_id"])
    )


def stream_near_dup_with_update(
    spark: SparkSession,
    input_path: str,
    bands_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    schema: str = DOCUMENTS_SCHEMA,
):
    """The foreachBatch completion of stream_near_dup_candidates: each
    micro-batch's band rows are (1) probed against the band table AS OF
    the previous batch — emitting new-vs-corpus AND new-vs-earlier-batch
    pairs — and then (2) APPENDED to the band table, so the corpus side
    grows with the stream and only same-micro-batch twins are left to the
    upstream exact-dedup stage. This is the stream-static join pattern
    generalized to a slowly-growing static side, which plain stream-static
    joins cannot express (they re-read the static table but a streaming
    sink can't also be the join source within one plan).

    Exactly-once caveat, stated honestly: foreachBatch gives at-least-once
    on RETRIED batches — a batch replay re-appends its band rows. The
    batch id is therefore written WITH the bands, so a compaction (or the
    periodic batch sweep) can dedup on (doc_id, band, batch_id); pair
    emission is idempotent downstream of dedup_exact. Returns the started
    query; drain with availableNow + awaitTermination."""
    from ..operators.dedup import band_keys_col, minhash_sig_col

    stream = spark.readStream.schema(schema).parquet(input_path)
    probe_cols = ("doc_id", "band", "band_key")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        bands = batch_df.select(
            "doc_id",
            F.posexplode(band_keys_col(minhash_sig_col("text"))).alias(
                "band", "band_key"
            ),
        )
        try:
            corpus = sess.read.parquet(bands_path).select(*probe_cols)
        except Exception:  # first batch: no band table yet
            corpus = None
        if corpus is not None:
            pairs = (
                bands.alias("p")
                .join(corpus.alias("c"), ["band", "band_key"])
                .filter(F.col("p.doc_id") != F.col("c.doc_id"))
                .select(
                    F.col("p.doc_id").alias("doc_id"),
                    F.col("c.doc_id").alias("corpus_doc_id"),
                )
                .distinct()
            )
            # batch_id on pair rows too (round-5 ADVICE #4): a retried
            # foreachBatch replay appends duplicate pair rows; with the
            # batch id present, compaction can dedup pairs exactly like
            # bands instead of relying on downstream dedup
            pairs.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                pairs_path
            )
        bands.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            bands_path
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(streaming_df: DataFrame, query_name: str, checkpoint_dir: str):
    """Drain all currently-available input, then stop (batch-like semantics,
    streaming machinery — the per-partition resumability of checkpoint.py,
    but engine-managed)."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
