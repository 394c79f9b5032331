"""Driver-orchestrated Lloyd k-means: determinism, monotone inertia, ties."""

from eva_opentargets_spark.operators.kmeans import assign_cells, inertia, kmeans

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_kmeans_reduces_inertia_and_is_deterministic(spark):
    emb = _emb(spark).cache()
    seeds = [list(r["embedding"]) for r in
             emb.selectExpr("vec_id", "cast(embedding as array<double>) embedding")
                .orderBy("vec_id").limit(4).collect()]
    base = inertia(emb, seeds)

    c1, it1 = kmeans(emb, k=4, max_iters=5)
    c2, it2 = kmeans(emb, k=4, max_iters=5)
    assert (c1, it1) == (c2, it2)  # fully deterministic
    assert len(c1) == 4 and len(c1[0]) == 64
    assert inertia(emb, c1) <= base  # Lloyd never increases inertia

    # one more iteration never increases inertia either
    c3, _ = kmeans(emb, k=4, max_iters=6)
    assert inertia(emb, c3) <= inertia(emb, c1) + 1e-9
    emb.unpersist()


def test_assign_cells_tie_break_first_centroid(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    # two identical centroids -> argmin ties -> FIRST index wins
    out = assign_cells(df, [[0.0, 0.0], [0.0, 0.0], [1.0, 0.0]]).collect()[0]
    assert out["cell"] == 2  # exact match beats ties
    out2 = assign_cells(df, [[0.5, 0.0], [0.5, 0.0]]).collect()[0]
    assert out2["cell"] == 0


def test_kmeans_converges_on_separated_clusters(spark):
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 3) * 0.01, 0.0]))
        rows.append((100 + i, [-10.0 - (i % 3) * 0.01, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, iters = kmeans(df, k=2, max_iters=10, tol=1e-9)
    xs = sorted(c[0] for c in cents)
    assert abs(xs[0] + 10.01) < 0.02 and abs(xs[1] - 10.01) < 0.02
    assert iters <= 4  # separable data converges fast


def test_ivf_kmeans_topk_matches_brute_force_within_probed_cells(spark):
    """The Lloyd-refined IVF search returns, for each query, the exact
    cosine top-k among vectors in its probed cells (the IVF guarantee),
    with deterministic (cos desc, neighbor asc) ordering."""
    from pyspark.sql import functions as F

    from eva_opentargets_spark.operators.kmeans import ivf_kmeans_topk

    embeddings = _emb(spark)
    out = ivf_kmeans_topk(embeddings, lambda vid: vid < 3, k=3, n_cells=4,
                          n_probe=2, max_iters=3)
    rows = out.collect()
    assert rows, "no neighbors returned"
    # ranks are 1..k per query, cos non-increasing
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i].cos_r >= rs[i + 1].cos_r for i in range(len(rs) - 1))
    # determinism across two runs
    again = {(r.query_id, r.neighbor_id, r.rank) for r in
             ivf_kmeans_topk(embeddings, lambda vid: vid < 3, k=3, n_cells=4,
                             n_probe=2, max_iters=3).collect()}
    assert again == {(r.query_id, r.neighbor_id, r.rank) for r in rows}


def test_assign_cells_sql_literal_path_matches_lambda_path(spark):
    """The single-parse SQL centroid literal (round 6) must assign every
    vector to the SAME cell as the per-centroid lambda build it replaced —
    including on exact ties — and must spell NaN/±Infinity centroids so
    they assign exactly as the lambda build does."""
    from pyspark.sql import functions as F

    from eva_opentargets_spark.operators.kmeans import _cents_sql, _sq_dist

    emb = _emb(spark)
    cents, _ = kmeans(emb, k=4, max_iters=2)

    def assert_same_cells(emb, cents):
        v = emb.select(F.col("vec_id").alias("vid"),
                       F.col("embedding").cast("array<double>").alias("e"))
        dists = F.array(*[_sq_dist(F.col("e"), c) for c in cents])
        lambda_cells = v.select(
            "vid", ((F.array_position(dists, F.array_min(dists)) - 1).cast("int")).alias("cell")
        )
        sql_cells = assign_cells(emb, cents).select("vid", "cell")
        assert sql_cells.count() == lambda_cells.count() > 0
        assert sql_cells.exceptAll(lambda_cells).count() == 0
        assert lambda_cells.exceptAll(sql_cells).count() == 0

    assert_same_cells(emb, cents)

    # scientific-notation reprs round-trip through the literal
    tiny = [[1e-17, -3.5e200], [0.0, 0.0]]
    df = spark.createDataFrame([(0, [1e-17, -3.5e200])],
                               "vec_id long, embedding array<double>")
    assert assign_cells(df, tiny).collect()[0]["cell"] == 0

    # non-finite centroids: the literal spells them, same argmin as lambdas
    inf, nan = float("inf"), float("nan")
    assert "NaN" in _cents_sql([[nan, 0.0]]) and "-Infinity" in _cents_sql([[-inf, 0.0]])
    df2 = spark.createDataFrame([(0, [1.0, 2.0]), (1, [-5.0, 0.0]), (2, [nan, 1.0])],
                                "vec_id long, embedding array<double>")
    for bad in ([[inf, 0.0], [0.0, 0.0]], [[nan, 0.0], [3.0, 3.0]],
                [[-inf, 1.0], [nan, nan], [0.0, 0.0]]):
        assert_same_cells(df2, bad)
    out = assign_cells(df2.filter("vec_id = 0"), [[inf, 0.0], [0.0, 0.0]]).collect()[0]
    assert out["cell"] == 1


def test_cents_sql_rejects_empty_and_ragged_centroids(spark):
    """Empty or ragged centroid lists fail with a clear ValueError instead
    of emitting an `array()` literal that fails analysis with a type error."""
    import pytest

    from eva_opentargets_spark.operators.kmeans import _cents_sql

    for bad in ([], [[]], [[1.0, 2.0], [3.0]]):
        with pytest.raises(ValueError, match="equal-length"):
            _cents_sql(bad)
    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="equal-length"):
        assign_cells(df, [])


def test_sq_dist_sql_fragment_matches_lambda(spark):
    """The one squared-distance SQL fragment that assign_cells and
    ivf_kmeans_topk both parse gives bit-identical distances to the
    per-centroid lambda build."""
    from pyspark.sql import functions as F

    from eva_opentargets_spark.operators.kmeans import _SQ_DIST_SQL, _cents_sql, _sq_dist

    emb = _emb(spark).select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e"))
    cents = [list(r["e"]) for r in emb.orderBy("vec_id").limit(3).collect()]
    sql = emb.select("vec_id", F.expr(f"transform({_cents_sql(cents)}, c -> {_SQ_DIST_SQL})").alias("d"))
    lam = emb.select("vec_id", F.array(*[_sq_dist(F.col("e"), c) for c in cents]).alias("d"))
    assert sql.count() > 0
    assert sql.exceptAll(lam).count() == 0 and lam.exceptAll(sql).count() == 0
