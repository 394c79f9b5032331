"""spark-submit entry point (north_rule: launched by spark-submit --py-files).

Usage:
  spark-submit --py-files eva_opentargets_spark.zip \
      eva_opentargets_spark/job.py \
      --transcripts /path/to/transcripts_parquet_or_iceberg \
      --output /path/to/output \
      [--buckets 32] [--wave-size 8] [--sf-dir /root/testdata/sf0.001]

Single-execution design (round-2 fix): each conv_id-bucket wave runs the
pipeline ONCE — triples, per-wave corpus counters and per-wave distinct-
mention partials are all written from the same cached extraction, then the
cache is released. After the waves, the GLOBAL distinct-mention table is
re-aggregated from the (tiny) per-wave partials — additive because buckets
partition conv_ids — and the linking cascade + curation run once at
dictionary scale. Nothing re-scans the corpus after its wave.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession, functions as F

from eva_opentargets_spark.operators.curation import curation_table
from eva_opentargets_spark.operators.linking import link_cascade
from eva_opentargets_spark.pipeline import (
    compute_metrics,
    counter_frame,
    link_counters,
    run_pipeline,
)
from eva_opentargets_spark.plans.checkpoint import run_waves
from eva_opentargets_spark.session import Persisted
from eva_opentargets_spark.sources.dictionary import demo_terms, demo_xrefs
from eva_opentargets_spark.sources.transcripts import derive_transcripts, read_transcripts


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--wave-size", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("eva_opentargets_spark.job").getOrCreate()
    transcripts = (
        read_transcripts(spark, args.transcripts)
        if args.transcripts
        else derive_transcripts(spark, args.sf_dir)
    )
    terms, xrefs = demo_terms(spark), demo_xrefs(spark)
    run_id = args.run_id or f"run-{int(time.time())}"

    def build_wave(wave_turns):
        # waves run several actions over the same extraction (triples write,
        # metrics agg, distinct partials, count) -> caching wins here, and
        # the per-wave cache is released right after the wave's writes
        res = run_pipeline(spark, wave_turns, terms=terms, xrefs=xrefs, persist_extracted=True)
        wave_metrics = compute_metrics(spark, res, run_id, partition="wave", corpus_only=True)
        tables = {
            "triples": res.triples,
            "wave_metrics": wave_metrics,
            "wave_distinct": res.distinct,
        }
        return tables, res.unpersist

    manifest = run_waves(
        spark,
        transcripts,
        args.output,
        build_wave,
        n_buckets=args.buckets,
        wave_size=args.wave_size,
    )

    # global distinct mentions from the per-wave partials: freq/occurrence
    # counters are additive across waves because conv_id buckets are disjoint
    global_distinct = (
        spark.read.parquet(f"{args.output}/wave_distinct")
        .groupBy("mention_norm")
        .agg(
            F.sum("freq").alias("freq"),
            F.sum("occurrences").alias("occurrences"),
            F.sum("n_conversations").alias("n_conversations"),
        )
    )
    with Persisted() as cascade:
        links, candidates, unresolved = link_cascade(global_distinct, terms, xrefs)
    curation_table(unresolved, candidates, global_distinct).write.mode("overwrite").parquet(
        f"{args.output}/curation"
    )

    # final metrics table: summed per-wave corpus counters + one set of
    # link-grain counters from the global cascade
    corpus_totals = (
        spark.read.parquet(f"{args.output}/wave_metrics")
        .groupBy("counter")
        .agg(F.sum("value").alias("value"))
        .select(F.lit(run_id).alias("run_id"), F.lit("all").alias("partition"), "counter", "value")
    )
    link_metrics = counter_frame(spark, run_id, "all", link_counters(links, unresolved))
    corpus_totals.unionByName(link_metrics).write.mode("overwrite").parquet(
        f"{args.output}/metrics"
    )
    cascade.release()
    print(f"completed buckets: {sorted(manifest.completed())}")
    spark.stop()


if __name__ == "__main__":
    main()
