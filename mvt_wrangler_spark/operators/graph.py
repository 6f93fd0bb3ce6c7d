"""Graph operators beyond connected components: integer-exact PageRank.

pair_clusters (operators/dedup.py) answers "which rows are the same thing";
PageRank answers "which nodes matter" — the centrality ranking a curation
pipeline uses to weight domains by link authority, order crawl frontiers,
or pick canonical entities from an alias graph.

Determinism is the design constraint (the engine-wide rule): classic
float PageRank is summation-order-dependent across partitions, so two runs
— or Spark vs the DuckDB twin — can disagree in the last ulp and break a
value-hash oracle. This implementation is FIXED-POINT INTEGER end to end:

    pr_0(v)   = scale                      (scale = 10^6)
    contrib(u->v) = pr_t(u) * alpha_num DIV (alpha_den * outdeg(u))
    pr_{t+1}(v)   = (scale - scale*alpha_num DIV alpha_den)
                    + Σ_in contrib        (exact int64 sum, order-free)

for a fixed iteration count — bit-identical everywhere, at the cost of the
floor in each contribution (bounded mass leak per edge, same trade the
integer-Lloyd k-means makes) and no dangling-mass redistribution (dangling
nodes keep receiving, never donate — documented simplification).

Scale shape: per iteration ONE join of edges to (degree, rank) and ONE
groupBy(dst) with map-side partial aggregation — the textbook distributed
PageRank plan; the iteration count is a small constant (driver loop, like
kmeans_fit). Edge lists are the input, so skew mitigation (salting hub
in-degrees) composes upstream if needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session


def pagerank_int(edges: DataFrame, iters: int = 2, alpha_num: int = 85,
                 alpha_den: int = 100, scale: int = 1_000_000,
                 src: str = "src", dst: str = "dst",
                 checkpoint_every: int = 5) -> DataFrame:
    """(node, pr) after `iters` fixed-point iterations over DISTINCT
    directed edges (pre-distinct the input; duplicate edges double-count).
    int64-safe for scale * alpha_num * max_in_degree < 2^63.

    The loop-invariant tables (edges, nodes, degrees) are pinned ONCE
    (session.pin, the standard move for iterative graph algorithms):
    without it every iteration's plan re-embeds — and re-EXECUTES — the
    upstream edge derivation per reference (the contract query's 2-iter
    plan carried 28 copies of the lineitem/orders scans). pr is
    additionally pinned every `checkpoint_every` iterations, so plan
    lineage (and analysis time) stays bounded at real link-graph iteration
    counts instead of growing linearly (kmeans_fit / pair_clusters make
    the same per-round truncation).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = session.pin(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = session.pin(e.select(F.col("src").alias("node"))
                        .unionByName(e.select(F.col("dst").alias("node")))
                        .distinct())
    deg = session.pin(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    base = scale - scale * alpha_num // alpha_den
    pr = nodes.withColumn("pr", F.lit(scale).cast("long"))
    for i in range(iters):
        contrib = (e.join(deg, "src")
                   .join(pr.withColumnRenamed("node", "src"), "src")
                   .select(F.col("dst").alias("node"),
                           F.expr(f"pr * {alpha_num} DIV ({alpha_den} * deg)")
                           .alias("c")))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (nodes.join(summed, "node", "left")
              .select("node",
                      (F.lit(base) + F.coalesce("s", F.lit(0)))
                      .cast("long").alias("pr")))
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            pr = session.pin(pr)
    return pr


def pagerank_int_sql(edges_src: str, iters: int = 2, alpha_num: int = 85,
                     alpha_den: int = 100, scale: int = 1_000_000) -> str:
    """DuckDB twin: the same iterations unrolled as CTEs over `edges_src`,
    a subquery yielding DISTINCT (src, dst)."""
    base = scale - scale * alpha_num // alpha_den
    ctes = [f"__e AS ({edges_src})",
            ("__n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM __e "
             "UNION ALL SELECT dst FROM __e))"),
            "__d AS (SELECT src, count(*) AS deg FROM __e GROUP BY 1)",
            f"__p0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM __n)"]
    for t in range(1, iters + 1):
        ctes.append(
            f"__c{t} AS (SELECT e.dst AS node, "
            f"CAST(sum(p.pr * {alpha_num} // ({alpha_den} * d.deg)) AS BIGINT) AS s "
            f"FROM __e e JOIN __d d ON d.src = e.src "
            f"JOIN __p{t-1} p ON p.node = e.src GROUP BY 1)")
        ctes.append(
            f"__p{t} AS (SELECT n.node, CAST({base} + coalesce(c.s, 0) AS BIGINT) AS pr "
            f"FROM __n n LEFT JOIN __c{t} c USING (node))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, pr FROM __p{iters}")
