"""SparkSession factory with scale-oriented defaults, and the engine's one
cache lifecycle (:func:`persist` + :class:`Persisted`).

Defaults target the sandbox (local[N], 128 GiB) but every knob is the one
you would set on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), modest advisory partition sizes, Arrow enabled for
the few pandas UDFs (disease groups above their gate, stateful streaming).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Owners open on the driver, innermost last. The engine builds plans from
# one driver thread, so the stack is not guarded by a lock.
_open_owners: list[Persisted] = []


class Persisted:
    """Owner of the frames persisted while it is open.

    The unit of work that runs a plan (a pipeline run, a wave, a bench
    query) builds it inside ``with Persisted() as held:``, which collects
    every frame :func:`persist` caches there (nested owners each collect
    it), and calls ``held.release()`` once its outputs are materialized.
    Leaving the block releases nothing, so the owner can outlive the code
    that built the frames. CacheManager holds strong references: a cache
    nobody releases stays for the life of the session.
    """

    def __init__(self):
        self.frames: list[DataFrame] = []

    def __enter__(self) -> Persisted:
        _open_owners.append(self)
        return self

    def __exit__(self, *exc) -> None:
        _open_owners.remove(self)

    def release(self) -> None:
        # newest first: a cache released before the caches built over it
        # would make Spark re-plan those dependants for nothing
        while self.frames:
            self.frames.pop().unpersist()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with every open :class:`Persisted`.
    Outside any owner the cache stays until someone unpersists it."""
    df = df.persist()
    for owner in _open_owners:
        owner.frames.append(df)
    return df


def estimated_input_splits(df) -> int:
    """Cheap estimate of how many scan tasks a DataFrame's input will
    produce: optimizer plan-size statistics / maxPartitionBytes. Used by
    the input-splits-vs-cores repartition guards (narrow in-row chains
    inherit input partitioning, which serializes them on the single-file
    bench corpus). Round-6: the old probe — `df.rdd.getNumPartitions()` —
    forced a full plan->RDD conversion costing ~160 ms of driver latency
    PER QUERY CONSTRUCTION; plan statistics answer the same coarse
    question (are there far fewer splits than cores?) in ~1 ms. For a
    parquet scan sizeInBytes is the exact file-size sum, so the estimate
    matches Spark's own split math to within openCost rounding; both
    over- and under-estimates only move a heuristic whose two outcomes
    are 'repartition to cores' vs 'inherit input layout'.

    A leaf without statistics (an RDD- or parallelize-backed relation)
    reports spark.sql.defaultSizeInBytes; the root size is then meaningless
    (a projection above it scales it by row width to a small number), so
    any such leaf, or a root at that size, means "unknown" and the estimate
    is 1: callers take the conservative repartition."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    unknown = conf.defaultSizeInBytes()
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    size = int(str(plan.stats().sizeInBytes()))
    leaf_sizes = (int(str(leaves.apply(i).stats().sizeInBytes())) for i in range(leaves.size()))
    if size >= unknown or any(s >= unknown for s in leaf_sizes):
        return 1
    max_bytes = max(1, conf.filesMaxPartitionBytes())
    return max(1, (size + max_bytes - 1) // max_bytes)


def get_spark(
    app_name: str = "eva_opentargets_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size shuffles to DATA, not cores: start every shuffle fine-grained
        # and let AQE coalesce down. With initialPartitionNum = cores, the
        # round-5 10x scale run showed the minhash candidate distinct
        # spilling 7M-row partial-agg maps per partition (first run 139 s vs
        # 21 s at 256 partitions); small dictionary-scale shuffles coalesce
        # back to a handful of tasks, so the 1x suite measured neutral-to-
        # faster under the same setting (BENCH.md scale-curve section).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_INITIAL_PARTITIONS", str(max(256, 8 * shuffle))),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plans too (off by default): the round-6
        # persists (bpe vocab, band/fingerprint tables, cascade
        # aggregates, propagation rounds) otherwise materialize at
        # initialPartitionNum granularity no matter how small the data is —
        # the 31-row BPE vocab cached as 256 partitions, so every merge-round
        # job scheduled 256 tasks to scan 31 rows. With the flag, AQE sizes
        # the cached plan by DATA (same advisory target as any shuffle), so
        # dictionary-scale caches collapse to 1 task and corpus-scale caches
        # keep their parallelism at any SF.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
