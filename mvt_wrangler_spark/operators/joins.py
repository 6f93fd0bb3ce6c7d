"""Spatial joins: broadcast point-in-polygon + salted kNN top-k.

Reference analog: the R-tree-prefiltered, exact-refined spatial join of
tiles x filter geometries (/root/reference/src/filtering/data.rs:189-230 +
src/transform.rs:96-143). Here generalized to the graft's operators
(north rule): broadcast STRtree PIP join against admin polygons, and a
salted kNN join for nearest-neighbor lookups.

Scale notes (100 TB / 10^12 rows):
  - PIP join is a NARROW stage: polygons broadcast once per executor, one
    Arrow-batched UDF pass, zero shuffle. Output explodes only matching
    pairs.
  - kNN is the shuffling operator; the two-phase salted top-k bounds any
    single reducer at (k x n_salt) rows per query point, so one hot query
    cell can't straggle a stage (AQE skew-join handles the join side; the
    explicit salt handles the aggregation side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import session
from ..functions import geometry as G


# ---------------------------------------------------------------------------
# Broadcast point-in-polygon join
# ---------------------------------------------------------------------------

def pip_match_ids_column(spark: SparkSession, polygons: list[tuple[str, G.Polygon]],
                         lon: Column, lat: Column) -> Column:
    """array<string> of polygon ids containing the point.

    GridIndex (STRtree-lite) prefilters by bbox; exact winding-number refine.
    Entirely executor-side vectorized numpy over Arrow batches.

    The returned Column is marked non-deterministic (see the comment at the
    return); consequences for callers: other filters will not push PAST a
    projection containing it (apply selective source filters BEFORE calling
    this), and it is only legal in Project/Filter contexts — not in join
    conditions or aggregates.
    """
    payload = [(pid, p.exterior, list(p.holes)) for pid, p in polygons]
    index = G.GridIndex([p.bbox for _, p in polygons])
    bc = spark.sparkContext.broadcast((payload, index))

    @pandas_udf("array<string>")
    def _match(plon: pd.Series, plat: pd.Series) -> pd.Series:
        pl, idx = bc.value
        px = plon.to_numpy(dtype=np.float64)
        py = plat.to_numpy(dtype=np.float64)
        n = len(px)
        hits: list[list[str]] = [[] for _ in range(n)]
        if n:
            # batch-bbox grid query prunes far polygons, then a vectorized
            # per-point bbox mask per candidate prunes rows BEFORE the exact
            # kernel — a globe-spanning batch against 10^4 polygons costs one
            # cheap compare per (candidate, row), not an exact PIP each
            # (points_in_polygon also bbox-culls internally; the explicit
            # mask keeps the nonzero/append loop off non-candidates too)
            cands = idx.query(px.min(), py.min(), px.max(), py.max())
            for ci in cands:
                pid, ext, holes = pl[ci]
                poly = G.Polygon(ext, holes)
                m = ((px >= poly.minx) & (px <= poly.maxx)
                     & (py >= poly.miny) & (py <= poly.maxy))
                if not m.any():
                    continue
                sub = np.nonzero(m)[0]
                inside = G.points_in_polygon(px[sub], py[sub], poly)
                for j in sub[np.nonzero(inside)[0]]:
                    hits[j].append(pid)
        return pd.Series(hits)

    # asNondeterministic: explode("__admins") makes the optimizer infer a
    # size(..)>0 filter and push it BELOW this projection, duplicating the
    # whole PIP pass (two ArrowEvalPython nodes — every row paid the grid
    # query + winding number twice; guide §4.4). The function is pure, but
    # the marker is the documented way to stop the optimizer cloning an
    # expensive UDF; the inferred filter then runs on the single computed
    # column. Generate drops empty arrays regardless, so results are
    # unchanged.
    return _match.asNondeterministic()(lon, lat)


def broadcast_pip_join(spark: SparkSession, points: DataFrame,
                       polygons: list[tuple[str, G.Polygon]],
                       lon_col: str = "lon", lat_col: str = "lat",
                       out_col: str = "admin_id", how: str = "inner") -> DataFrame:
    """Attach one output row per (point, containing polygon).

    how="inner": drop non-matching points; "left": keep them with NULL id.
    """
    matched = points.withColumn(
        "__admins", pip_match_ids_column(spark, polygons, F.col(lon_col), F.col(lat_col))
    )
    exploder = F.explode if how == "inner" else F.explode_outer
    return matched.withColumn(out_col, exploder("__admins")).drop("__admins")


# ---------------------------------------------------------------------------
# Broadcast exact intersects join (general geometries: point/line/polygon)
# ---------------------------------------------------------------------------

def intersects_match_ids_column(spark: SparkSession,
                                polygons: list[tuple[str, G.Polygon]],
                                gtype: Column, xs: Column, ys: Column,
                                ring_lens: Column | None = None) -> Column:
    """array<string> of polygon ids whose geometry intersects the feature.

    The returned Column is marked non-deterministic (same rationale and
    caller caveats as pip_match_ids_column: apply selective source filters
    BEFORE calling this; Project/Filter contexts only).

    General form of the reference's exact-intersects refine
    (transform.rs:130-143) beyond points: features are (geom_type,
    xs array, ys array[, ring_lens array]) rows — ring_lens splits the flat
    vertex arrays into rings/parts (the decode_tiles contract), making holed
    and Multi* FEATURE polygons exact. Per polygon, a vectorized row-bbox
    pre-mask rejects far rows (so 10^4 broadcast polygons cost one cheap
    compare each per batch, not an exact kernel each), then the exact kernel
    runs on the surviving subset only.
    """
    payload = [(pid, p.exterior, list(p.holes), p.bbox) for pid, p in polygons]
    bc = spark.sparkContext.broadcast(payload)

    def _match_core(t: pd.Series, xs_s: pd.Series, ys_s: pd.Series,
                    rl_s: pd.Series | None) -> pd.Series:
        gtypes = t.to_numpy(dtype=object)
        xsl = xs_s.to_numpy(dtype=object)
        ysl = ys_s.to_numpy(dtype=object)
        rll = rl_s.to_numpy(dtype=object) if rl_s is not None else None
        n = len(gtypes)
        hits: list[list[str]] = [[] for _ in range(n)]
        if n:
            lens = np.fromiter(map(len, xsl), np.int64, n)
            offs = np.zeros(n + 1, np.int64)
            np.cumsum(lens, out=offs[1:])
            fx = np.concatenate([np.asarray(v, np.float64) for v in xsl])
            fy = np.concatenate([np.asarray(v, np.float64) for v in ysl])
            rminx = np.minimum.reduceat(fx, offs[:-1])
            rmaxx = np.maximum.reduceat(fx, offs[:-1])
            rminy = np.minimum.reduceat(fy, offs[:-1])
            rmaxy = np.maximum.reduceat(fy, offs[:-1])
            for pid, ext, holes, (bx0, by0, bx1, by1) in bc.value:
                m = (rminx <= bx1) & (bx0 <= rmaxx) & (rminy <= by1) & (by0 <= rmaxy)
                if not m.any():
                    continue
                sub = np.nonzero(m)[0]
                h = G.geoms_intersect_polygon(
                    gtypes[sub], xsl[sub], ysl[sub], G.Polygon(ext, holes),
                    ring_lens_list=rll[sub] if rll is not None else None)
                for j in sub[np.nonzero(h)[0]]:
                    hits[j].append(pid)
        return pd.Series(hits)

    # asNondeterministic on both variants: same inferred-filter UDF
    # duplication as pip_match_ids_column (see the comment there) — the
    # downstream explode otherwise re-evaluates the exact-intersects pass
    # below the pushed size(..)>0 filter.
    if ring_lens is not None:
        @pandas_udf("array<string>")
        def _match_rings(t: pd.Series, xs_s: pd.Series, ys_s: pd.Series,
                         rl_s: pd.Series) -> pd.Series:
            return _match_core(t, xs_s, ys_s, rl_s)

        return _match_rings.asNondeterministic()(gtype, xs, ys, ring_lens)

    @pandas_udf("array<string>")
    def _match(t: pd.Series, xs_s: pd.Series, ys_s: pd.Series) -> pd.Series:
        return _match_core(t, xs_s, ys_s, None)

    return _match.asNondeterministic()(gtype, xs, ys)


def broadcast_intersects_join(spark: SparkSession, feats: DataFrame,
                              polygons: list[tuple[str, G.Polygon]],
                              type_col: str = "geom_type", xs_col: str = "xs",
                              ys_col: str = "ys", out_col: str = "admin_id",
                              how: str = "inner",
                              ring_lens_col: str | None = None) -> DataFrame:
    """One output row per (feature, intersecting polygon) — the J2 exact
    geometry x geometry join generalized to line/polygon features, and (with
    ring_lens_col) to holed / multi-part feature polygons."""
    matched = feats.withColumn(
        "__admins",
        intersects_match_ids_column(
            spark, polygons, F.col(type_col), F.col(xs_col), F.col(ys_col),
            ring_lens=F.col(ring_lens_col) if ring_lens_col else None),
    )
    exploder = F.explode if how == "inner" else F.explode_outer
    return matched.withColumn(out_col, exploder("__admins")).drop("__admins")


# ---------------------------------------------------------------------------
# Salted kNN join (nearest neighbors among `data` for each row of `queries`)
# ---------------------------------------------------------------------------

def knn_join_cells(data: DataFrame, queries: DataFrame, k: int, z: int = 7,
                   data_id: str = "image_id", query_id: str = "query_id",
                   lon_col: str = "lon", lat_col: str = "lat",
                   n_salt: int = 8, max_rounds: int | None = None) -> DataFrame:
    """Salted cell-bucketed kNN for LARGE query sets (both sides
    distributed) — EXACT by expanding-ring rounds.

    Round i explodes each still-unsatisfied query over the (2w+1)^2 cell box
    around its z-tile (w = 2^i, round 0 = the classic 3x3), equi-joins on
    (cell, salt) — a plain shuffle join AQE can plan; hot metro cells spread
    over n_salt reducers and two-phase top-k bounds every reducer at k.
    A query is DONE when it has k candidates whose k-th distance fits inside
    the box's interior circle (distance to the nearest box border that has
    data beyond it; world edges count as infinitely far) — its in-box top-k
    is then provably the global top-k. Survivors re-probe with doubled w;
    once the box covers the grid the result is exact by construction, so
    the loop always terminates (~log2(n) rounds worst case; round counts
    are driver-side scalars, no data collect).

    Output: query_id, rank, neighbor_id, dist2 (squared degrees,
    tie-broken by neighbor id).
    """
    from ..functions import tiling

    n = 1 << z
    d = data.select(
        F.col(data_id).alias("__did"),
        F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"))
    d = tiling.assign_tiles(d, z=z, with_local=False).select(
        "__did", F.col("lon").alias("__dlon"), F.col("lat").alias("__dlat"),
        F.col("x").alias("__cx"), F.col("y").alias("__cy"),
        F.pmod(F.xxhash64(F.col("__did")), F.lit(n_salt)).alias("__salt"),
    )
    # the expanding-ring loop references d every round
    d = session.pin(d)
    remaining = tiling.assign_tiles(
        queries.select(F.col(query_id).alias("__qid"),
                       F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat")),
        z=z, with_local=False,
    ).select("__qid", F.col("lon").alias("__qlon"), F.col("lat").alias("__qlat"),
             F.col("x").alias("__qx"), F.col("y").alias("__qy"))

    finals: list[DataFrame] = []
    w = 1
    # enough doublings that the final round's box provably covers the grid
    # (w = 2^(z-1) gives 2w+1 >= 2^z) — exactness never depends on a cap
    rounds = max_rounds if max_rounds is not None else max(z, 1) + 1
    for _ in range(rounds):
        covers_grid = 2 * w + 1 >= n
        if covers_grid:
            # the box would cover the grid: skip the (2w+1)^2 cell explode
            # and probe everything — the salt explode alone spreads the join
            qc = remaining.withColumn(
                "__salt", F.explode(F.array(*[F.lit(s) for s in range(n_salt)])))
            pairs = qc.join(d, on="__salt")
        else:
            qc = remaining.withColumn(
                "__cx", F.explode(F.sequence(F.greatest(F.lit(0), F.col("__qx") - w),
                                             F.least(F.lit(n - 1), F.col("__qx") + w))))
            qc = qc.withColumn(
                "__cy", F.explode(F.sequence(F.greatest(F.lit(0), F.col("__qy") - w),
                                             F.least(F.lit(n - 1), F.col("__qy") + w))))
            qc = qc.withColumn("__salt",
                               F.explode(F.array(*[F.lit(s) for s in range(n_salt)])))
            pairs = qc.join(d, on=["__cx", "__cy", "__salt"])
        dx = pairs["__dlon"] - pairs["__qlon"]
        dy = pairs["__dlat"] - pairs["__qlat"]
        pairs = pairs.withColumn("dist2", dx * dx + dy * dy)
        # tie-break equal dist2 NUMERICALLY when the id parses (then by the
        # string form): string order ('10' < '9') diverges from the numeric
        # brute-force oracle on exact ties, which the lattice-derived synth
        # points do produce
        tie = [F.expr("try_cast(__did AS BIGINT)").asc_nulls_last(), F.col("__did").asc()]
        w1 = Window.partitionBy("__qid", "__salt").orderBy(F.col("dist2").asc(), *tie)
        local = pairs.withColumn("__r", F.row_number().over(w1)).filter(F.col("__r") <= k)
        w2 = Window.partitionBy("__qid").orderBy(F.col("dist2").asc(), *tie)
        res = (local.withColumn("rank", F.row_number().over(w2))
               .filter(F.col("rank") <= k)
               .select("__qid", "__qlon", "__qlat", "__qx", "__qy",
                       "rank", "__did", "dist2"))

        if covers_grid:
            finals.append(res.select("__qid", "rank", "__did", "dist2"))
            break
        # safety radius: distance from the query point to the nearest box
        # border beyond which data could exist (world edges -> +inf)
        inf = F.lit(float("inf"))
        west = tiling.tile_lon(F.col("__qx") - w, z)
        east = tiling.tile_lon(F.col("__qx") + w + 1, z)
        north = tiling.tile_lat(F.col("__qy") - w, z)
        south = tiling.tile_lat(F.col("__qy") + w + 1, z)
        safe = F.least(
            F.when(F.col("__qx") - w <= 0, inf).otherwise(F.col("__qlon") - west),
            F.when(F.col("__qx") + w >= n - 1, inf).otherwise(east - F.col("__qlon")),
            F.when(F.col("__qy") - w <= 0, inf).otherwise(north - F.col("__qlat")),
            F.when(F.col("__qy") + w >= n - 1, inf).otherwise(F.col("__qlat") - south),
        )
        status = (res.groupBy("__qid")
                  .agg(F.count(F.lit(1)).alias("__n"), F.max("dist2").alias("__kth2"))
                  .join(remaining, on="__qid")
                  .withColumn("__safe", safe)
                  .withColumn("__done", (F.col("__n") >= k)
                              & (F.col("__kth2") <= F.col("__safe") * F.col("__safe"))))
        # pinned per round: the rounds would otherwise chain into one
        # compounding DAG whose re-analysis OOMs the driver after a few
        # doublings. The pinned frames are tiny (<= k rows/query;
        # shrinking queries).
        done_ids = session.pin(status.filter(F.col("__done")).select("__qid"))
        finals.append(session.pin(res.join(done_ids, on="__qid")
                                  .select("__qid", "rank", "__did", "dist2")))
        # anti-join (NOT status-filter): a query with ZERO in-box candidates
        # has no status row but must keep expanding
        remaining = session.pin(remaining.join(done_ids, on="__qid",
                                               how="left_anti"))
        if remaining.isEmpty():
            break
        w *= 2

    out = finals[0]
    for f in finals[1:]:
        out = out.unionByName(f)
    return out.select(F.col("__qid").alias(query_id), "rank",
                      F.col("__did").alias("neighbor_id"), "dist2")

