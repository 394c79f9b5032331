"""Annotated write-back (S8) tests."""

from pyspark.sql import functions as F

from eva_opentargets_spark import synth
from eva_opentargets_spark.operators.annotate import annotate_transcripts
from eva_opentargets_spark.pipeline import run_pipeline


def test_annotate_preserves_originals(spark):
    transcripts, _ = synth.generate(spark, n_convs=5, turns_per_conv=4, seed=13)
    res = run_pipeline(spark, transcripts)
    annotated = annotate_transcripts(transcripts, res.triples)
    # row count and every original column unchanged (S8 invariant)
    assert annotated.count() == transcripts.count()
    orig = transcripts.select("conv_id", "turn_idx", "text")
    back = annotated.select("conv_id", "turn_idx", "text")
    assert orig.exceptAll(back).count() == 0 and back.exceptAll(orig).count() == 0
    # at least one turn has annotations; empty arrays elsewhere, never null
    counts = annotated.select(F.size("annotations").alias("n")).agg(
        F.max("n").alias("mx"), F.min("n").alias("mn")
    ).first()
    assert counts["mx"] >= 1 and counts["mn"] == 0


def test_annotations_sorted_and_complete(spark):
    transcripts, _ = synth.generate(spark, n_convs=5, turns_per_conv=4, seed=13)
    res = run_pipeline(spark, transcripts)
    annotated = annotate_transcripts(transcripts, res.triples)
    n_ann = annotated.select(F.explode("annotations")).count()
    assert n_ann == res.triples.count()

