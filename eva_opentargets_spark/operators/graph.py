"""Iterative graph algorithms as unrolled DataFrame plans (engine-new).

pagerank() is the fixed-iteration sibling of the label-propagation loop in
dedup.near_dup_clusters and the Lloyd loop in kmeans: per round, ONE
equi-join from the normalized edge list to the current rank vector and one
partial-aggregated groupBy at node grain. Fixed iteration count keeps the
whole computation a single declarative DAG (no driver actions at all) and
makes it oracle-expressible as unrolled CTEs.

Scale shape: the rank vector and node list are node-grain; edges are
edge-grain and shuffle once per round on src (then dst for the
aggregation). Nothing is ever collected; the two scalar quantities the
update rule needs (node count, dangling mass) ride along as broadcast
1-row frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import persist


def pagerank(
    edges: DataFrame, n_iter: int = 3, damping: float = 0.85
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges, fixed n_iter
    rounds: pr'(v) = (1-d)/N + d * (sum over in-edges u->v of
    pr(u) * w(u,v)/outw(u) + dangling_mass/N), where dangling nodes (no
    out-edges) redistribute their mass uniformly — total mass stays 1.
    Returns (node, rank) with rank rounded to 6 decimals (PR values are
    O(1/N); 6 decimals is the cross-engine determinism boundary)."""
    # Round-6 persists: `edges` feeds four consumers (both node
    # projections, out-weights, normalized shares) and each round
    # references `pr` twice (contribution join + dangling-mass anti-join),
    # doubling the unrolled subtree per iteration — the near_dup_clusters
    # pathology. Everything persisted here is vocab-grain (Zipf-small at
    # any corpus size). The round caches stay until the caller's owner
    # releases them: the result is lazy, so every round is still needed.
    edges = persist(edges)
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = persist(src_nodes.unionByName(dst_nodes).distinct())
    n_df = nodes.agg(F.count("*").cast("double").alias("n"))
    outw = persist(edges.groupBy("src").agg(F.sum("weight").alias("outw")))
    norm = persist(
        edges.join(outw, "src").select(
            "src", "dst", (F.col("weight") / F.col("outw")).alias("share")
        )
    )
    pr = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    d = float(damping)
    for _ in range(n_iter):
        pr = persist(pr)
        contrib = (
            norm.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("share") * F.col("pr")).alias("contrib"))
        )
        dangling = (
            pr.join(outw.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - d) / F.col("n")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.col("n")
                    )
                ).alias("pr"),
            )
        )
    return pr.select("node", F.round("pr", 6).alias("rank"))


def bigram_graph(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Undirected word-adjacency graph as symmetric weighted edges:
    (src, dst, weight) where weight counts adjacent occurrences in either
    order. Bigrams build in-row (the text_repetition recipe); the only
    shuffle is the edge-count groupBy at VOCAB grain — Zipf-small however
    large the corpus."""
    tl = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )
    toks = docs.select(tl.alias("tl")).filter(F.size("tl") > 1)
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tl") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tl"), i).alias("s"),
                    F.element_at(F.col("tl"), i + 1).alias("d"),
                ),
            )
        ).alias("e")
    ).select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
    sym = bg.unionByName(
        bg.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("weight")
    )


def textrank(docs: DataFrame, n_iter: int = 3, damping: float = 0.85) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) keyword scoring: PageRank over the
    undirected word-adjacency graph — corpus-salient terms rank high.
    (node, rank)."""
    return pagerank(bigram_graph(docs), n_iter=n_iter, damping=damping)
