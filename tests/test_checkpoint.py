"""Checkpoint-resume tests: idempotency (no duplicate triples after re-run)
and incremental completion — the Nextflow -resume analog (README.md:109-116)
with the A4 duplicate invariant as the oracle.
"""

from eva_opentargets_spark import synth
from eva_opentargets_spark.operators.triples import assert_no_duplicate_triples
from eva_opentargets_spark.pipeline import run_pipeline
from eva_opentargets_spark.plans.checkpoint import (
    CheckpointManifest,
    read_checkpointed_triples,
    run_with_checkpoint,
)


def test_checkpoint_resume_idempotent(spark, tmp_path):
    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=5)
    out = str(tmp_path / "ckpt")

    def build(t):
        return run_pipeline(spark, t).triples

    # full run
    m1 = run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=2)
    t1 = read_checkpointed_triples(spark, out)
    n1 = t1.count()
    assert_no_duplicate_triples(t1)
    assert len(m1.completed()) == 4

    # re-run: everything checkpointed -> no recomputation, same output
    m2 = run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=2)
    t2 = read_checkpointed_triples(spark, out)
    assert t2.count() == n1
    assert_no_duplicate_triples(t2)
    assert len(m2.completed()) == 4

    # lineage rows carry per-bucket triple counts (metrics table analog)
    lineage = m2.lineage()
    assert sum(row["triples_emitted"] for row in lineage) == n1


def test_partial_resume(spark, tmp_path):
    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=6)
    out = str(tmp_path / "ckpt2")

    def build(t):
        return run_pipeline(spark, t).triples

    # simulate a crashed run: only wave 1 completed
    manifest = CheckpointManifest(out)
    run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=4)
    full = read_checkpointed_triples(spark, out).count()

    # wipe two bucket markers -> those buckets recompute, output identical
    import os

    for b in (0, 1):
        os.remove(os.path.join(manifest.path, f"bucket-{b}.json"))
    run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=4)
    again = read_checkpointed_triples(spark, out)
    assert again.count() == full
    assert_no_duplicate_triples(again)


def test_run_waves_side_tables_and_cleanup(spark, tmp_path):
    """run_waves writes per-wave side tables (metrics/distinct partials) in
    the SAME wave as the triples — the single-execution job design — and
    runs the cleanup hook after each wave."""
    from pyspark.sql import functions as F

    from eva_opentargets_spark.pipeline import compute_metrics
    from eva_opentargets_spark.plans.checkpoint import run_waves

    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=9)
    out = str(tmp_path / "waves")
    cleanups = []

    def build_wave(t):
        res = run_pipeline(spark, t)
        met = compute_metrics(spark, res, "r", partition="wave", corpus_only=True)
        def cleanup():
            cleanups.append(1)
            res.unpersist()
        return {"triples": res.triples, "wave_metrics": met, "wave_distinct": res.distinct}, cleanup

    run_waves(spark, transcripts, out, build_wave, n_buckets=4, wave_size=2)
    assert len(cleanups) == 2  # one per wave

    # per-wave corpus counters sum to the whole-corpus counters
    wave_metrics = spark.read.parquet(f"{out}/wave_metrics")
    totals = {
        r["counter"]: r["v"]
        for r in wave_metrics.groupBy("counter").agg(F.sum("value").alias("v")).collect()
    }
    res_all = run_pipeline(spark, transcripts)
    met_all = {
        r["counter"]: r["value"]
        for r in compute_metrics(spark, res_all, "r", corpus_only=True).collect()
    }
    for k, v in met_all.items():
        assert totals[k] == v, (k, totals[k], v)
    res_all.unpersist()

    # distinct-mention partials re-aggregate to the global distinct table
    glob = (
        spark.read.parquet(f"{out}/wave_distinct")
        .groupBy("mention_norm")
        .agg(F.sum("freq").alias("freq"), F.sum("occurrences").alias("occurrences"))
    )
    res2 = run_pipeline(spark, transcripts)
    want = {(r["mention_norm"], r["freq"], r["occurrences"]) for r in res2.distinct.collect()}
    got = {(r["mention_norm"], r["freq"], r["occurrences"]) for r in glob.collect()}
    assert got == want
    res2.unpersist()

