"""Spatial clustering at scale: single-linkage over a sub-eps grid.

Groups points into clusters where every member is within `eps` of some
other member (DBSCAN with min_pts=1 / fixed-radius single linkage) — the
spatial analog of near-dup clustering, used to merge duplicate POI pins,
collapse burst captures at one location, or build label regions.

Scale shape — pure DataFrame ops, NO Python anywhere. The graph is built
over CELLS, not points:

  1. cell size c = the largest integer with 2*(c-1)^2 <= eps^2
     (c ~= eps/sqrt(2)). Any two points in the SAME cell are within eps by
     construction, so each non-empty cell is one super-node — the closure
     runs over O(#cells) nodes instead of O(#points), and dense same-cell
     cliques are never materialized as pairs.
  2. per-cell stats (count + bbox) via one map-side-combinable groupBy.
  3. candidate cell pairs: HALF-stencil equi-join of cells against an
     exploded offset list (each unordered cell pair emitted once — no
     trailing distinct over point pairs). Offsets are pruned statically to
     those whose cell-to-cell minimum gap can be <= eps.
  4. bbox gap test per candidate pair: if the max possible point distance
     (bbox far gap) is <= eps the pair is connected FOR FREE; if the min
     possible distance (bbox near gap) is > eps it is dropped. Only
     BORDERLINE pairs proceed to the exact point-level refine.
  5. exact refine on borderline pairs only: re-attach points (A side
     pre-pruned to the eps-band facing B's bbox), dist² <= eps², integer
     exact, aggregated straight to cell pairs (EXISTS semantics).
  6. transitive closure via pair_clusters over the CELL graph; point rows
     then pick up their cell's component and a final groupBy computes the
     min-point-id representative and member count, so the output is
     row-for-row identical to point-level closure.

Coordinates must be NON-NEGATIVE integers (tile-local / quantized
space): Spark's DIV truncates while floor-division floors, so negative
coordinates would put -1..-eps+1 into cell 0 alongside 0..eps-1. Quantize
into a non-negative grid first (the MVT-space convention used across this
engine).
"""

from __future__ import annotations

from math import isqrt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session
from .dedup import pair_clusters_with_corpus


# packed cell id stride: coordinates are tile-local (< 2^31), so
# cx * 2^31 + cy is collision-free and fits int64 for any cx < 2^32.
_PACK = 1 << 31


def _cell_size(eps: int) -> int:
    """Largest integer c with 2*(c-1)^2 <= eps^2, so the max distance
    between two integer points in one c-sized cell (diag of a (c-1)-box)
    is <= eps."""
    return isqrt(eps * eps // 2) + 1


def _half_offsets(eps: int, c: int) -> list[tuple[int, int]]:
    """Canonical half-plane offsets (dx > 0, or dx == 0 and dy > 0) whose
    cell-to-cell minimum gap can still be <= eps. The minimum coordinate
    gap between points of cells d apart (d >= 1) is (d-1)*c + 1."""
    reach = eps // c + 1
    out = []
    for dx in range(0, reach + 1):
        for dy in range(-reach, reach + 1):
            if dx == 0 and dy <= 0:
                continue
            gx = 0 if dx == 0 else (dx - 1) * c + 1
            gy = 0 if dy == 0 else (abs(dy) - 1) * c + 1
            if gx * gx + gy * gy <= eps * eps:
                out.append((dx, dy))
    return out


def grid_cluster(pts: DataFrame, eps: int, id_col: str = "id",
                 x_col: str = "px", y_col: str = "py",
                 max_rounds: int = 50) -> DataFrame:
    """(member_id, cluster_rep, cluster_size) for EVERY input point —
    identical rows to point-level single-linkage closure (rep = min member
    id), computed over the collapsed cell graph (module doc)."""
    c = _cell_size(eps)
    eps2 = eps * eps
    # q is referenced four times (cell agg, both border point sides, the
    # final member expansion) and cells three times (probe explode, the
    # candidate join, the closure corpus); un-materialized, each reference
    # re-executes the upstream scan + cell math. Both are slim proxy
    # tables (q: id + 2 coords + 2 cells = ~40 B/row, one pass — the same
    # cost class as one shuffle of the input; cells: bounded by the
    # occupied-cell count), so pin each once per invocation.
    q = session.pin(pts.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        F.expr(f"{x_col} DIV {c}").cast("long").alias("__cx"),
        F.expr(f"{y_col} DIV {c}").cast("long").alias("__cy")))
    cells = session.pin(
        q.groupBy("__cx", "__cy")
        .agg(F.min("__x").alias("__minx"), F.max("__x").alias("__maxx"),
             F.min("__y").alias("__miny"), F.max("__y").alias("__maxy"))
        .withColumn("__cell", F.col("__cx") * F.lit(_PACK) + F.col("__cy")))

    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx, dy in _half_offsets(eps, c)])
    probe = (cells.withColumn("__o", F.explode(offs))
             .select(F.col("__cell").alias("__cell_b"),
                     (F.col("__cx") + F.col("__o.dx")).alias("__cx"),
                     (F.col("__cy") + F.col("__o.dy")).alias("__cy"),
                     F.col("__cx").alias("__bcx"), F.col("__cy").alias("__bcy"),
                     F.col("__minx").alias("__bminx"),
                     F.col("__maxx").alias("__bmaxx"),
                     F.col("__miny").alias("__bminy"),
                     F.col("__maxy").alias("__bmaxy")))
    cand = cells.join(probe, on=["__cx", "__cy"])
    # bbox near/far gaps: near > eps -> impossible; far <= eps -> edge free
    gx = F.greatest(F.col("__bminx") - F.col("__maxx"),
                    F.col("__minx") - F.col("__bmaxx"), F.lit(0))
    gy = F.greatest(F.col("__bminy") - F.col("__maxy"),
                    F.col("__miny") - F.col("__bmaxy"), F.lit(0))
    fx = F.greatest(F.col("__bmaxx") - F.col("__minx"),
                    F.col("__maxx") - F.col("__bminx"))
    fy = F.greatest(F.col("__bmaxy") - F.col("__miny"),
                    F.col("__maxy") - F.col("__bminy"))
    near2, far2 = gx * gx + gy * gy, fx * fx + fy * fy
    cand = (cand.filter(near2 <= eps2)
            .withColumn("__free", far2 <= eps2))
    auto = cand.filter("__free").select("__cell", "__cell_b")

    border = cand.filter(~F.col("__free")).select(
        F.col("__cx").alias("__acx"), F.col("__cy").alias("__acy"),
        "__bcx", "__bcy", "__cell", "__cell_b",
        "__bminx", "__bmaxx", "__bminy", "__bmaxy")
    pa = q.select(F.col("__cx").alias("__acx"), F.col("__cy").alias("__acy"),
                  F.col("__x").alias("__ax"), F.col("__y").alias("__ay"))
    half = border.join(pa, on=["__acx", "__acy"])
    # A-point must be within eps of B's bbox at all (eps-band prune) before
    # the point×point expansion against B's members
    pgx = F.greatest(F.col("__bminx") - F.col("__ax"),
                     F.col("__ax") - F.col("__bmaxx"), F.lit(0))
    pgy = F.greatest(F.col("__bminy") - F.col("__ay"),
                     F.col("__ay") - F.col("__bmaxy"), F.lit(0))
    half = (half.filter(pgx * pgx + pgy * pgy <= eps2)
            .select("__cell", "__cell_b", "__bcx", "__bcy", "__ax", "__ay"))
    pb = q.select(F.col("__cx").alias("__bcx"), F.col("__cy").alias("__bcy"),
                  F.col("__x").alias("__bx"), F.col("__y").alias("__by"))
    d2 = ((F.col("__ax") - F.col("__bx")) * (F.col("__ax") - F.col("__bx"))
          + (F.col("__ay") - F.col("__by")) * (F.col("__ay") - F.col("__by")))
    refined = (half.join(pb, on=["__bcx", "__bcy"])
               .filter(d2 <= eps2)
               .groupBy("__cell", "__cell_b").agg(F.lit(1))
               .select("__cell", "__cell_b"))

    cell_comp = pair_clusters_with_corpus(
        cells.select("__cell"), auto.unionByName(refined), id_col="__cell",
        id_a="__cell", id_b="__cell_b", max_rounds=max_rounds)
    ptc = (q.withColumn("__cell",
                        F.col("__cx") * F.lit(_PACK) + F.col("__cy"))
           .join(cell_comp.select(F.col("member_id").alias("__cell"),
                                  F.col("cluster_rep").alias("__comp")),
                 on="__cell"))
    # count DISTINCT ids: duplicate input ids are one graph node (matches
    # point-level pair_clusters, whose nodes are ids, not rows)
    stats = ptc.groupBy("__comp").agg(
        F.min("__id").alias("cluster_rep"),
        F.countDistinct("__id").cast("long").alias("cluster_size"))
    return (ptc.join(stats, on="__comp")
            .select(F.col("__id").alias("member_id"),
                    "cluster_rep", "cluster_size"))


def grid_cluster_sql(pts_src: str, eps: int, id_col: str = "id",
                     x_col: str = "px", y_col: str = "py") -> str:
    """DuckDB twin: same stencil equi-join + refine, then the recursive
    reachability closure, left-joined back onto the corpus for
    singletons."""
    from .dedup import pair_clusters_sql

    pairs = f"""
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM (SELECT *, {x_col} // {eps} AS cx, {y_col} // {eps} AS cy
      FROM ({pts_src})) a
JOIN (SELECT p.*, p.{x_col} // {eps} + o.dx AS cx,
             p.{y_col} // {eps} + o.dy AS cy
      FROM ({pts_src}) p,
           (SELECT dx.d AS dx, dy.d AS dy
            FROM generate_series(-1, 1) dx(d),
                 generate_series(-1, 1) dy(d)) o) b
  ON a.cx = b.cx AND a.cy = b.cy
WHERE a.{id_col} < b.{id_col}
  AND (a.{x_col} - b.{x_col}) * (a.{x_col} - b.{x_col})
    + (a.{y_col} - b.{y_col}) * (a.{y_col} - b.{y_col}) <= {eps * eps}
"""
    closure = pair_clusters_sql(pairs)
    return f"""
SELECT CAST(p.{id_col} AS BIGINT) AS member_id,
       coalesce(c.cluster_rep, CAST(p.{id_col} AS BIGINT)) AS cluster_rep,
       coalesce(c.cluster_size, 1) AS cluster_size
FROM ({pts_src}) p LEFT JOIN ({closure}) c ON c.member_id = p.{id_col}
"""
