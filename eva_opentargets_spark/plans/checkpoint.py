"""Per-partition checkpoint/resume.

Reference analog: Nextflow `-resume` file-level caching (README.md:109-116)
— the unit of resumability there is a pipeline process output file; here it
is a conv_id hash bucket (the Iceberg-partition analog). Completed buckets
are recorded in a manifest; a resumed run recomputes only pending buckets
and overwrites their output partitions, so re-running NEVER duplicates
triples (the A4 invariant, annotation_pipeline.nf:435-448, doubles as the
idempotency test).

Scale notes: pending buckets are processed in waves — each wave is ONE
Spark job over `bucket IN (wave)` (partition pruning on the bucketed
input), written with dynamic partition overwrite. Wave size bounds the
maximum re-work after a mid-run failure.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONV_BUCKETS


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


class CheckpointManifest:
    """Filesystem manifest of completed buckets (one JSON line per bucket,
    with lineage counters — the Report/counts.yml analog, report.py:79-98)."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_manifest")
        os.makedirs(self.path, exist_ok=True)

    def completed(self) -> set[int]:
        out = set()
        for f in os.listdir(self.path):
            if f.startswith("bucket-") and f.endswith(".json"):
                out.add(int(f[len("bucket-"):-len(".json")]))
        return out

    def mark(self, bucket: int, lineage: dict) -> None:
        tmp = os.path.join(self.path, f".bucket-{bucket}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"bucket": bucket, **lineage}, fh)
        os.replace(tmp, os.path.join(self.path, f"bucket-{bucket}.json"))

    def lineage(self) -> list[dict]:
        rows = []
        for b in sorted(self.completed()):
            with open(os.path.join(self.path, f"bucket-{b}.json")) as fh:
                rows.append(json.load(fh))
        return rows


def run_waves(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    build_wave,  # (DataFrame) -> (dict[str, DataFrame], cleanup_fn | None)
    n_buckets: int = DEFAULT_CONV_BUCKETS,
    wave_size: int = 8,
) -> CheckpointManifest:
    """Compute per-wave output tables bucket-by-bucket, resumable.

    build_wave maps a wave's transcript DataFrame to ({name: DataFrame},
    cleanup) where 'triples' is required; every table is written under
    output_dir/<name>/bucket=... with dynamic partition overwrite, so a
    resumed run overwrites rather than duplicates (A4 invariant). Side
    tables (per-wave metrics, distinct-mention partials) ride along in the
    SAME wave so nothing is recomputed after the waves finish — the round-1
    job.py re-ran the whole pipeline for metrics/curation (verdict #2).
    cleanup (if not None) runs after the wave's writes, e.g. to unpersist
    the wave's cached extraction table.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    manifest = CheckpointManifest(output_dir)
    done = manifest.completed()
    pending = [b for b in range(n_buckets) if b not in done]
    bucketed = transcripts.withColumn("bucket", bucket_col(n_buckets))

    for i in range(0, len(pending), wave_size):
        wave = pending[i : i + wave_size]
        wave_turns = bucketed.filter(F.col("bucket").isin(wave))
        tables, cleanup = build_wave(wave_turns.drop("bucket"))
        triples = tables["triples"].withColumn("bucket", bucket_col(n_buckets))
        (
            triples.repartition(len(wave), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(output_dir, "triples"))
        )
        for name, df in tables.items():
            if name == "triples":
                continue
            # side tables are small (dictionary/counter scale); one file per
            # wave, tagged by the wave's first bucket for overwrite-idempotency
            (
                df.withColumn("bucket", F.lit(wave[0]))
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(output_dir, name))
            )
        counts = {
            r["bucket"]: r["n"]
            for r in triples.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        if cleanup is not None:
            cleanup()
        for b in wave:
            manifest.mark(b, {"triples_emitted": int(counts.get(b, 0))})
    return manifest


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    build_triples,  # (DataFrame) -> DataFrame
    n_buckets: int = DEFAULT_CONV_BUCKETS,
    wave_size: int = 8,
) -> CheckpointManifest:
    """Triples-only convenience wrapper over :func:`run_waves`."""
    return run_waves(
        spark,
        transcripts,
        output_dir,
        lambda t: ({"triples": build_triples(t)}, None),
        n_buckets=n_buckets,
        wave_size=wave_size,
    )


def read_checkpointed_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "triples"))
