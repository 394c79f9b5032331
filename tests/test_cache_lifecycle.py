"""One cache lifecycle: every declared query, built inside a
session.Persisted owner and materialized, leaves no persisted RDD behind
once the owner releases."""

from eva_opentargets_spark.queries import QUERIES
from eva_opentargets_spark.session import Persisted

SF = "/root/testdata/sf0.001"


def test_every_query_releases_its_caches(spark):
    jsc = spark.sparkContext._jsc
    # persisting an already-cached plan is a no-op, so a query matching a
    # cache another test left would release that cache and skew the count
    spark.catalog.clearCache()
    leaked = {}
    for name, query in QUERIES.items():
        baseline = jsc.getPersistentRDDs().size()
        with Persisted() as held:
            df = query(spark, SF)
        df.write.format("noop").mode("overwrite").save()
        held.release()
        left = jsc.getPersistentRDDs().size() - baseline
        if left:
            leaked[name] = left
    assert leaked == {}
