"""session.estimated_input_splits: plan statistics, with "unknown" mapped
to the conservative answer."""

from pyspark.sql import functions as F

from eva_opentargets_spark.session import estimated_input_splits


def test_estimated_input_splits_unknown_size_is_one(spark):
    # a parallelize-backed frame has no statistics: the optimizer reports
    # spark.sql.defaultSizeInBytes, which must read as 1 split (callers
    # then repartition), not as billions of splits
    df = spark.createDataFrame(spark.sparkContext.parallelize([(i,) for i in range(100)], 2), "x long")
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert size >= int(spark._jsparkSession.sessionState().conf().defaultSizeInBytes())
    assert estimated_input_splits(df) == 1
    # a projection above it scales the unknown size down by row width;
    # the leaf still makes it unknown
    wide = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, "x" * 50) for i in range(100)], 2), "x long, s string"
    )
    narrow = wide.select((F.col("x") + 1).alias("y")).filter("y > 3")
    root = int(str(narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert root < int(spark._jsparkSession.sessionState().conf().defaultSizeInBytes())
    assert estimated_input_splits(narrow) == 1


def test_estimated_input_splits_follows_max_partition_bytes(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.range(5000).selectExpr("id", "repeat('x', 20) AS text").write.parquet(path)
    docs = spark.read.parquet(path)
    size = int(str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert estimated_input_splits(docs) == -(-size // 1024)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
