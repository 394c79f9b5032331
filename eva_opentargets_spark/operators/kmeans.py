"""Driver-orchestrated Lloyd k-means over an embedding column — the
iterative-algorithm pattern (same shape as the xref BFS loop: a bounded
driver loop over dictionary-scale state, corpus-scale work per round as one
shuffle-light job).

Used as the production-quality IVF coarse quantizer (similarity.ivf_cells
uses first-K seeding for oracle determinism; this module refines those same
seeds). Each iteration:
  assignment: broadcast the K centroids, per-vector argmin squared-L2
              (one narrow pass, W5 tie-break on centroid id)
  update:     groupBy(cell) with one SUM per dimension (dim scalar
              aggregates) — partial (map-side) aggregation makes the
              shuffle carry k x n_partitions x dim doubles, never vectors;
              a posexplode would shuffle dim x N rows and a collect_list
              would buffer whole cells in memory.

Centroid state lives on the driver (K x dim floats — tiny); convergence is
measured by max centroid shift.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..session import persist


# Squared L2 distance from the row's vector `e` to a centroid `c`, as SQL:
# the one fragment assign_cells, inertia and ivf_kmeans_topk all parse, so
# they stay bit-identical to each other and to the _sq_dist lambda build.
_SQ_DIST_SQL = "aggregate(zip_with(e, c, (x, y) -> (x-y)*(x-y)), 0.0D, (acc, v) -> acc + v)"


def _sql_double(x: float) -> str:
    # repr round-trips finite doubles exactly and the D suffix keeps the
    # parser in DoubleType; non-finite values have no literal form, but
    # Spark parses their string casts
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _cents_sql(centroids) -> str:
    """The centroid list as ONE SQL array<array<double>> literal carrying
    exactly the values the lambda-built form would, NaN and ±Infinity
    included. Raises ValueError on an empty centroid list or on centroids
    of different (or zero) dimension: there is no meaningful argmin
    there."""
    dims = {len(c) for c in centroids}
    if not centroids or 0 in dims or len(dims) > 1:
        raise ValueError(
            f"centroids must be a non-empty list of equal-length, non-empty vectors; "
            f"got {len(centroids)} centroids of dimensions {sorted(dims)}"
        )
    return (
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(float(x)) for x in c) + ")" for c in centroids
        )
        + ")"
    )


def _dists(centroids) -> Column:
    """array<double> of the row's squared distances to every centroid —
    ONE parsed expression: a per-centroid build would cost py4j lambda
    conversions per centroid per call inside the Lloyd loop."""
    return F.expr(f"transform({_cents_sql(centroids)}, c -> {_SQ_DIST_SQL})")


def _sq_dist(a, centroid: list[float]):
    """The per-centroid lambda build of one squared distance — the
    reference the SQL literal path is tested against."""
    from .similarity import lit_double_array

    c = lit_double_array(float(x) for x in centroid)
    return F.aggregate(
        F.zip_with(a, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, cell): argmin squared-L2 over the broadcast centroid list,
    lowest centroid id on ties — one narrow pass, no shuffle."""
    v = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
    )
    dists = _dists(centroids)
    # argmin with lowest-index tie-break: array_position finds the FIRST
    # occurrence of the minimum
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return v.select("vid", "e", cell.alias("cell"))


def kmeans(
    embeddings: DataFrame,
    k: int = 16,
    max_iters: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], int]:
    """Lloyd iterations until max centroid shift < tol or max_iters.
    Seeds = the first k vectors by id (deterministic, same seeding as
    similarity.ivf_cells). Returns (centroids, iterations_run).

    Per iteration: ONE job — assignment is in-row column math against
    broadcast centroids; the update is a single groupBy(cell) with `dim`
    scalar SUMs (map-side partial aggregation, shuffle of
    k x n_partitions x dim doubles)."""
    # Persist the (vid, e) projection for the loop: seeds + every Lloyd
    # iteration re-scans it (round 6; cast-from-parquet paid per job
    # otherwise) — assign_cells builds the same plan, so it reads the cache.
    # K x dim doubles per row, MEMORY_AND_DISK; released once the loop ends
    # (on an exception, the caller's owner releases it).
    v = persist(
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
        )
    )
    seed_rows = v.orderBy("vid").limit(k).collect()
    centroids = [list(r["e"]) for r in seed_rows]
    dim = len(centroids[0])
    iters = 0
    # ONE parsed expression for all dim per-dimension sums (array of
    # aggregates): the former dim separate F.sum(F.element_at(...)) columns
    # cost ~5 py4j round trips each PER ITERATION — pure driver latency in
    # the Lloyd loop (guide §7.3). e[d] is 0-based GetArrayItem == the old
    # element_at(e, d+1); the shuffle still carries dim scalar partial sums.
    sums = F.expr("array(" + ",".join(f"sum(e[{d}])" for d in range(dim)) + ")")
    for _ in range(max_iters):
        iters += 1
        assigned = assign_cells(embeddings, centroids, id_col, vec_col)
        rows = (
            assigned.groupBy("cell")
            .agg(sums.alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_centroids = list(centroids)  # empty cells keep their centroid
        for r in rows:
            new_centroids[r["cell"]] = [r["s"][d] / r["n"] for d in range(dim)]
        shift = max(
            abs(a - b) for nc, oc in zip(new_centroids, centroids) for a, b in zip(nc, oc)
        )
        centroids = new_centroids
        if shift < tol:
            break
    v.unpersist()
    return centroids, iters


def inertia(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to the assigned centroid (the quantity
    Lloyd iterations are guaranteed to not increase)."""
    assigned = assign_cells(embeddings, centroids, id_col, vec_col)
    return (
        assigned.select(F.element_at(_dists(centroids), F.col("cell") + 1).alias("d"))
        .agg(F.sum("d"))
        .first()[0]
    )


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_filter,
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with the Lloyd-REFINED coarse quantizer — the production
    composition of kmeans() and the inverted-file search (similarity.
    ivf_topk uses raw first-K seeds; this refines them first, giving
    tighter cells and better probe recall at the same n_probe).

    Plan shape: centroids are K x dim driver state (the kmeans loop's
    output); assignment AND probe selection are in-row column math against
    the broadcast centroid literals — the per-query probe list is an
    array_sort over the (distance, cell) struct array, sliced to n_probe
    and exploded, so probe ranking costs no shuffle and ties break on the
    lowest cell id exactly like assignment. Candidate fetch is the one
    shuffle: an equi-join on cell. Oracle: the ann_ivf_kmeans_topk DuckDB
    twin unrolls the same iterations (oracle.py)."""
    from pyspark.sql import Window

    centroids, _ = kmeans(embeddings, k=n_cells, max_iters=max_iters,
                          id_col=id_col, vec_col=vec_col)
    v = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
    )
    # same single-parse discipline as assign_cells: transform's index
    # lambda gives the 0-based cell id
    ranked_cells = F.expr(
        f"array_sort(transform({_cents_sql(centroids)}, "
        f"(c, i) -> struct({_SQ_DIST_SQL} AS d, i AS cell)))"
    )

    def norm(col):
        return F.sqrt(
            F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
        )

    # norms are computed ONCE per vector/query BEFORE the join — inside the
    # join they would re-run a dim-length fold per candidate PAIR
    assigned = v.select(
        "vid", "e", norm(F.col("e")).alias("nrm"), ranked_cells[0]["cell"].alias("cell")
    )
    probes = (
        v.filter(query_filter(F.col("vid")))
        .select(
            F.col("vid").alias("query_id"),
            F.col("e").alias("qe"),
            norm(F.col("e")).alias("qnrm"),
            F.explode(F.slice(ranked_cells, 1, n_probe)).alias("pc"),
        )
        .select("query_id", "qe", "qnrm", F.col("pc.cell").alias("cell"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(probes)
        .join(
            assigned.select(
                F.col("vid").alias("neighbor_id"), F.col("e").alias("ce"),
                F.col("nrm").alias("cnrm"), "cell",
            ),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", (dot / (F.col("qnrm") * F.col("cnrm"))).alias("cos"))
    )  # no pair dedup needed: each neighbor lives in exactly ONE cell
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos_r"))
    )
