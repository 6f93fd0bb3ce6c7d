"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 gets a queries() entry; each
SQL-expressible one gets an oracle_sql() twin the driver runs on DuckDB over
the same parquet. Spatial queries synthesize deterministic points from
lineitem keys (pure integer math — bit-identical in both engines; see
mvt_wrangler_spark/sources/points.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Z = 10  # zoom used by the oracle-checked tiling queries


# ---------------------------------------------------------------------------
# S2 parent arithmetic for cell_cover_join and its oracle. Faces 4-5 set
# bit 63, so cell ids are NEGATIVE int64s: shift/add forms overflow under
# ANSI; the canonical (id & -lsb) | lsb form is two's-complement safe and
# matches the uint64 numpy kernel bit-for-bit.
# ---------------------------------------------------------------------------

def s2_parent_column(cell, level: int):
    """Parent cell at `level` (must be coarser than the cell's own level):
    (id & -lsb) | lsb, the canonical S2 parent arithmetic."""
    from mvt_wrangler_spark.functions.cells import _MAX_LEVEL

    lsb = 1 << (2 * (_MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def s2_parent_sql(cell: str, level: int) -> str:
    """DuckDB twin of s2_parent_column."""
    from mvt_wrangler_spark.functions.cells import _MAX_LEVEL

    lsb = 1 << (2 * (_MAX_LEVEL - level))
    return f"(({cell} & {-lsb}) | {lsb})"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.sources.points import synth_points

    return synth_points(spark, sf_dir)


def _spread(df: DataFrame) -> DataFrame:
    """Spread a tiny id set across the cluster before per-row Python work.

    The image queries derive a few-thousand-row id table via distinct();
    AQE's partition coalescing sees a few KB and collapses the exchange to
    ONE partition — which then runs the whole downstream mapInPandas chain
    (pixel gen, codec, stats) on a single core (measured: every image query
    executed its Python stages as 1 task at sf0.1). Round-robin repartition
    with an explicit count is exempt from AQE coalescing (hash repartition
    is NOT — verified on this Spark build), and the count scales with the
    session's parallelism rather than a constant, so the fix holds from
    local[8] to a 1000-executor cluster. 2x parallelism keeps the Python
    stage balanced when per-row cost varies (codec mix)."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism * 2)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.functions import tiling

    pts = _points(spark, sf_dir)
    return tiling.assign_tiles(pts, z=Z, with_local=False).select("id", "z", "x", "y", "tile_id")


def q_tile_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.functions import tiling

    pts = _points(spark, sf_dir)
    out = tiling.assign_tiles(pts, z=Z, with_local=True)
    return out.select(
        "id",
        F.round("px", 4).alias("px_r"),
        F.round("py", 4).alias("py_r"),
    )


def q_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3 in the gate: points -> assign -> REAL MVT blob encode ->
    vectorized mapInArrow decode -> values. The oracle restates the input,
    so any write- or read-path corruption (dictionary codes, varint bytes,
    geometry stream, tag rebuild) breaks the hash.

    px/py pre-round with floor(+0.5) so the encoder's np.rint sees
    integer-valued doubles (rint is half-EVEN; floor(+0.5) is the one
    formulation both engines state identically)."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import tile_encode as TE

    # synthetic lineitem has duplicate (orderkey, linenumber) keys -> id
    # collisions; full-row distinct is deterministic (dup rows identical)
    pts = _points(spark, sf_dir).distinct()
    a = tiling.assign_tiles(pts, z=Z, with_local=True)
    a = a.select(
        F.col("id").alias("image_id"), "z", "x", "y", "tile_id", "layer",
        F.create_map(F.lit("kind"), F.col("kind")).alias("tags"),
        F.floor(F.col("px") + 0.5).cast("double").alias("px"),
        F.floor(F.col("py") + 0.5).cast("double").alias("py"),
    )
    dec = TE.decode_tiles(TE.encode_tiles(a))
    return dec.select(
        F.col("feature_id").alias("id"), "z", "x", "y", "layer",
        F.element_at("pxs", 1).alias("px"),
        F.element_at("pys", 1).alias("py"),
        F.element_at("tags", F.lit("kind")).alias("kind"),
    )


def q_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import rollup as R

    pts = tiling.assign_tiles(_points(spark, sf_dir), z=Z, with_local=False)
    base = pts.groupBy("z", "x", "y").agg(F.count(F.lit(1)).alias("n_rows"))
    return R.pyramid_rollup(base, base_z=Z, min_z=0)


def q_tile_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import rollup as R

    pts = tiling.assign_tiles(_points(spark, sf_dir), z=Z, with_local=False)
    stats = R.tile_stats(pts.withColumn("bytes", F.lit(None).cast("binary")),
                         n_salt=8, salt_col="id")
    return stats.select("z", "x", "y", "n_rows")


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from mvt_wrangler_spark.functions import geometry as G
    from mvt_wrangler_spark.operators import joins as J
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS

    pts = _points(spark, sf_dir)
    polys = [(pid, G.Polygon(np.array(v))) for pid, v in PIP_POLYGONS]
    return J.broadcast_pip_join(spark, pts.select("id", "lon", "lat"), polys).select("id", "admin_id")


def q_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geometry x geometry intersects join (J2 generalized): mixed
    Point/LineString/Polygon features vs broadcast admin polygons
    (transform.rs:130-143 semantics). SQL twin states the same sign-product
    crossing formula term for term."""
    import numpy as np

    from mvt_wrangler_spark.functions import geometry as G
    from mvt_wrangler_spark.operators import joins as J
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS, synth_geoms

    feats = synth_geoms(spark, sf_dir)
    polys = [(pid, G.Polygon(np.array(v))) for pid, v in PIP_POLYGONS]
    return J.broadcast_intersects_join(spark, feats, polys).select(
        "id", "geom_type", "admin_id")


def q_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 live: a ["type"]-based DSL rule over non-point features — drop
    LineStrings whose geometry intersects the filter polygon."""
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS, synth_geoms

    ring = [list(v) for v in PIP_POLYGONS[0][1]]
    ring.append(ring[0])
    prog = FL.FilterProgram.from_geojson({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [ring]},
            "properties": {"layers": {"*": {"feature": ["==", ["type"], "LineString"]}}},
        }],
    })
    feats = synth_geoms(spark, sf_dir).withColumn("layer", F.lit("feats")).withColumn(
        "tags", F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<string>")))
    masked = feats.withColumn(
        "filter_mask",
        FL.geom_filter_mask_column(spark, prog, F.col("geom_type"),
                                   F.col("xs"), F.col("ys")))
    surv = FL.apply_feature_filter(masked, prog, geom_type_col="geom_type")
    return surv.select("id", "geom_type")


def q_knn_join_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides-distributed kNN (salted cell join, expanding-ring rounds) —
    globally EXACT, so the oracle is a brute-force top-k over all points."""
    from mvt_wrangler_spark.operators import joins as J

    pts = _points(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 10.5, -20.25)],
        "query_id string, lon double, lat double",
    )
    out = J.knn_join_cells(pts.withColumn("id", F.col("id").cast("string")),
                           queries, k=4, z=7, data_id="id", n_salt=4)
    return out.select("query_id", "rank",
                      F.col("neighbor_id").cast("long").alias("neighbor_id"), "dist2")


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import dedup as D

    pts = tiling.assign_tiles(_points(spark, sf_dir), z=Z, with_local=False)
    return D.phash_dedup(pts, keys=("z", "x", "y", "phash"), order_col="id").select(
        "id", "x", "y", "phash")


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Program parse -> PIP mask -> compiled feature filter -> dedup."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import dedup as D
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS

    ring = [list(v) for v in PIP_POLYGONS[2][1]]
    ring.append(ring[0])
    program = FL.FilterProgram.from_geojson({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [ring]},
            "properties": {"layers": {"*": {"feature": ["==", ["tag", "kind"], "building"]}}},
        }],
    })
    pts = _points(spark, sf_dir).withColumn("tags", F.create_map(F.lit("kind"), F.col("kind")))
    masked = pts.withColumn(
        "filter_mask", FL.filter_mask_native(program, F.col("lon"), F.col("lat")))
    surv = FL.apply_feature_filter(masked, program)
    surv = tiling.assign_tiles(surv, z=Z, with_local=False)
    return D.phash_dedup(surv, keys=("z", "x", "y", "phash"), order_col="id").select(
        "id", "x", "y", "phash")


def q_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_filter with the reference fixture's global tag-prune rule."""
    from mvt_wrangler_spark.operators import expr as E
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog = FL.FilterProgram.from_geojson(default_filter_geojson())
    pts = _points(spark, sf_dir).withColumn(
        "tags",
        F.create_map(
            F.lit("name"), F.col("kind"),
            F.lit("name:ja"), F.col("kind"),
            F.lit("name:fr"), F.col("kind"),
            F.lit("pgf:name:ja"), F.col("kind"),
            F.lit("kind"), F.col("kind"),
        ),
    ).withColumn("filter_mask", F.lit(4).cast("long"))  # global rule applies
    out = FL.apply_tag_filter(pts, prog)
    # scalar (not array) output: the driver's canonicalizer can't hash lists
    return out.select(
        "id", F.concat_ws(",", F.array_sort(F.map_keys("tags"))).alias("kept_keys"))


def q_expr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled DSL program over part-table tags."""
    from mvt_wrangler_spark.operators import expr as E

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    tagged = part.withColumn(
        "tags",
        F.create_map(
            F.lit("brand"), F.col("p_brand"),
            F.lit("type"), F.col("p_type"),
            F.lit("size"), F.col("p_size").cast("string"),
        ),
    )
    prog = ["all",
            ["in", ["tag", "brand"], ["literal", ["Brand#13", "Brand#11", "Brand#25"]]],
            ["regex-match", ["tag", "type"], "ECONOMY|PROMO"],
            # not-in: FILTERING.md:25-26 doc-parity op (operators/expr.py)
            ["not-in", ["string", ["tag", "size"]],
             ["literal", ["15", "25", "35", "45"]]],
            ["not", ["starts-with", ["tag", "size"], "1"]],
            [">", ["tag", "size"], "2"]]
    ctx = E.ColumnContext(tags=F.col("tags"))
    return tagged.filter(E.compile_expr(prog, ctx)).select("p_partkey")


def q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S2 (level 12) + H3-style (res 7) cell ids from unit-sphere xyz
    via the FUSED vectorized-numpy pandas UDF (one Arrow pass emits both
    cells) — with a BIT-EXACT DuckDB twin (the from-xyz encoders are
    trig-free: divide/sqrt/int ops only, all IEEE-exact). The UDF beats a
    pure-Catalyst chain of the same math: the chain's unrolled Hilbert walk
    exceeds HotSpot's method-size limits and drops to interpreted eval,
    while the numpy kernel walks the curve through a chunked 4096-entry
    lookup table (6 gathers for 30 levels)."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import cells as C
    from mvt_wrangler_spark.sources.points import synth_xyz

    pts = synth_xyz(spark, sf_dir)
    out = pts.withColumn(
        "__cells",
        C.cells_from_xyz_column(F.col("x"), F.col("y"), F.col("z"),
                                level=12, res=7))
    return out.select("id", F.col("__cells.s2_cell").alias("s2_cell"),
                      F.col("__cells.h3_cell").alias("h3_cell"))


def q_distinct_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-phash count per tile (dedup audit)."""
    from mvt_wrangler_spark.functions import tiling

    pts = tiling.assign_tiles(_points(spark, sf_dir), z=6, with_local=False)
    return pts.groupBy("x", "y").agg(F.countDistinct("phash").alias("n_phash"))


def _tile_encode_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points with a variable tag map: 'kind' always, 'name' on 1/3 of rows —
    so per-tile dictionaries have real first-seen-order content to check."""
    from mvt_wrangler_spark.functions import tiling

    pts = _points(spark, sf_dir)
    full = F.create_map(
        F.lit("kind"), F.col("kind"),
        F.lit("name"), F.concat(F.lit("n"), F.pmod(F.col("id"), F.lit(997))),
    )
    has_name = F.pmod(F.col("id"), F.lit(3)) == 0
    pts = pts.withColumn(
        "tags", F.map_filter(full, lambda k, v: (k != F.lit("name")) | has_name))
    pts = pts.withColumn("image_id", F.col("id").cast("string"))
    return tiling.assign_tiles(pts, z=6)


def q_tile_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archive encoder's per-(tile, layer) dictionaries as flat columns:
    keys/values in FIRST-SEEN order (transform.rs:174-191 A1 semantics),
    computed by the per-tile MVT blob encoder's _layer_dictionaries. The
    blob bytes themselves are pytest-pinned (golden bytes, decode round-trip,
    and the batch encoder against scalar framing)."""
    from mvt_wrangler_spark.operators import tile_encode as TE

    return TE.tile_dictionary_stats(_tile_encode_input(spark, sf_dir)).select(
        "x", "y", "tile_id", "layer", "n_features", "n_keys", "n_values",
        "keys_joined", "values_joined")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: mod-P minhash banding with hot-bucket cap;
    the oracle replicates bucketing + join + cap exactly in SQL."""
    from mvt_wrangler_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle=5,
                                    max_bucket=1000)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector zonal assignment, value-checked end to end: images are
    synthesized with an algebraic pixel formula, ENCODED to real bytes
    (raw / zlib / lossy-quantized codecs), decoded back by the engine and
    block-reduced to zone stats — while the oracle brute-forces the same
    formula (with the quantization model for the lossy fmt) in SQL. Exercises
    S3 decode + the zonal kernel under the driver's value hash, not just
    pytest."""
    import numpy as np
    import pandas as pd

    from mvt_wrangler_spark.operators import zonal as Z
    from mvt_wrangler_spark.sources import images as I

    W, H = 24, 16
    ids = _spread(_points(spark, sf_dir).select("id").filter(F.pmod("id", F.lit(37)) == 3).distinct())

    def gen(pdfs):
        fmts = ["raw", "rawz", "qlossy"]
        for pdf in pdfs:
            rows = {"image_id": [], "bytes": [], "fmt": [], "w": [], "h": [],
                    "z": [], "x": [], "y": []}
            yy, xx, cc = np.mgrid[0:H, 0:W, 0:3]  # hoisted: per-row mgrid alloc dominated the loop
            for i in pdf["id"].to_numpy(dtype=np.int64):
                px = ((int(i) * 31 + yy * 7 + xx * 13 + cc * 5) % 256).astype(np.uint8)
                fmt = fmts[int(i) % 3]
                rows["image_id"].append(str(int(i)))
                rows["bytes"].append(I.encode(px, fmt))
                rows["fmt"].append(fmt)
                rows["w"].append(W)
                rows["h"].append(H)
                rows["z"].append(0)
                rows["x"].append(0)
                rows["y"].append(0)
            yield pd.DataFrame(rows)

    imgs = ids.mapInPandas(
        gen, "image_id string, bytes binary, fmt string, w int, h int, "
             "z int, x bigint, y bigint")
    out = Z.zonal_stats(imgs, gx=2, gy=2)
    return out.select(
        F.col("image_id").cast("long").alias("id"), "zone", "n_px",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"))


def q_cell_cover_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical S2 cover join: regions are SETS OF COARSE CELLS (level-5
    parents of a deterministic point subset), points join by truncating
    their level-12 cell to the region level — an equi-join on bit
    arithmetic, zero geometry at join time. This is the spatial-join shape
    that survives 100 TB: the cover set broadcasts, the fact side never
    shuffles on geometry. Parent truncation is exact int64 shift/add, so
    the DuckDB twin is bit-identical."""
    from mvt_wrangler_spark import session
    from mvt_wrangler_spark.functions import cells as C
    from mvt_wrangler_spark.sources.points import synth_xyz

    pts = synth_xyz(spark, sf_dir)
    d = pts.withColumn(
        "__cells",
        C.cells_from_xyz_column(F.col("x"), F.col("y"), F.col("z"),
                                level=12, res=7))
    d = d.select("id", F.col("__cells.s2_cell").alias("s2"))
    d = d.withColumn("p5", s2_parent_column(F.col("s2"), 5))
    # pin the slim (id, s2, p5) proxy: un-pinned, the cell-encode UDF ran
    # FOUR times — the region (build) side and the probe side each embed the
    # whole encode chain, and on each side the inferred isnotnull(p5) join
    # filter pushed below the projection duplicates the ArrowEvalPython
    # (guide §4.4; asNondeterministic would instead block the region
    # filter's pushdown to the scan). 24 B/row — one encode pass at any
    # scale.
    d = session.pin(d)
    regions = (d.filter(F.pmod(F.col("id"), F.lit(29)) == 0)
               .select(F.col("p5").alias("rcell")).distinct())
    return (d.join(F.broadcast(regions), d.p5 == regions.rcell)
            .select("id", "p5"))


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup document clusters: minhash LSH candidate pairs ->
    pair_clusters, each member with its min-id cluster representative and
    cluster size — the closure the incremental ingest runs per batch."""
    from mvt_wrangler_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                     shingle=5, max_bucket=1000)
    return D.pair_clusters(pairs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full spatial pipeline at sf0.001 -> per-tile stats."""
    return q_pipeline_e2e(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "minhash_clusters": q_minhash_clusters,
        "tile_encode": q_tile_encode,
        "cell_cover_join": q_cell_cover_join,
        "tile_assign": q_tile_assign,
        "tile_local": q_tile_local,
        "archive_roundtrip": q_archive_roundtrip,
        "pyramid_rollup": q_pyramid_rollup,
        "tile_stats_salted": q_tile_stats_salted,
        "pip_join": q_pip_join,
        "intersects_join": q_intersects_join,
        "type_filter": q_type_filter,
        "knn_join_cells": q_knn_join_cells,
        "phash_dedup": q_phash_dedup,
        "pipeline_e2e": q_pipeline_e2e,
        "tag_filter": q_tag_filter,
        "expr_filter": q_expr_filter,
        "minhash_lsh": q_minhash_lsh,
        "cell_encode": q_cell_encode,
        "distinct_phash": q_distinct_phash,
        "zonal_stats": q_zonal_stats,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from mvt_wrangler_spark.functions.tiling import (
        frac_tile_x_sql,
        frac_tile_y_sql,
        pmtiles_tile_id_sql,
        tile_x_sql,
        tile_y_sql,
    )
    from mvt_wrangler_spark.sources.points import (
        PIP_POLYGONS,
        POINTS_SQL,
        halfplane_sql,
    )

    pts = f"__pts AS ({POINTS_SQL})"
    xy = (f"__xy AS (SELECT id, phash, lon, lat, kind, CAST({Z} AS INT) AS z, "
          f"{tile_x_sql('lon', Z)} AS x, {tile_y_sql('lat', Z)} AS y FROM __pts)")

    ctes, last, tid = pmtiles_tile_id_sql(Z, "x", "y", "__xy")
    tile_assign = (
        "WITH " + ",\n".join([pts, xy] + ctes)
        + f" SELECT id, z, x, y, {tid} AS tile_id FROM {last}"
    )

    # archive_roundtrip: encode->decode must reproduce the (distinct) input —
    # the oracle restates it (same floor(+0.5) pre-round, transcendental
    # 1-ulp floor-boundary risk shared with tile_assign's tile_y)
    pts_d = f"__pts AS (SELECT DISTINCT * FROM ({POINTS_SQL}))"
    xy_l = (f"__xy AS (SELECT id, layer, lon, lat, kind, CAST({Z} AS INT) AS z, "
            f"{tile_x_sql('lon', Z)} AS x, {tile_y_sql('lat', Z)} AS y FROM __pts)")
    archive_roundtrip = f"""
WITH {pts_d}, {xy_l}
SELECT id, z, x, y, layer,
       CAST(floor(({frac_tile_x_sql('lon', Z)} - x) * 4096.0 + 0.5) AS DOUBLE) AS px,
       CAST(floor(({frac_tile_y_sql('lat', Z)} - y) * 4096.0 + 0.5) AS DOUBLE) AS py,
       kind
FROM __xy
"""

    tile_local = f"""
WITH {pts}, {xy}
SELECT id,
       round(({frac_tile_x_sql('lon', Z)} - x) * 4096.0, 4) AS px_r,
       round(({frac_tile_y_sql('lat', Z)} - y) * 4096.0, 4) AS py_r
FROM __xy
"""

    levels = []
    for z in range(Z, -1, -1):
        s = Z - z
        levels.append(
            f"SELECT CAST({z} AS INT) AS z, x >> {s} AS x, y >> {s} AS y, "
            f"CAST(count(*) AS BIGINT) AS n_rows FROM __xy GROUP BY 2, 3"
        )
    pyramid = "WITH " + ",\n".join([pts, xy]) + " " + "\nUNION ALL\n".join(levels)

    tile_stats = (
        "WITH " + ",\n".join([pts, xy])
        + " SELECT z, x, y, CAST(count(*) AS BIGINT) AS n_rows FROM __xy GROUP BY 1,2,3"
    )

    pip_arms = "\nUNION ALL\n".join(
        f"SELECT id, '{pid}' AS admin_id FROM __pts WHERE {halfplane_sql(pid, v)}"
        for pid, v in PIP_POLYGONS
    )
    pip_join = f"WITH {pts} {pip_arms}"

    from mvt_wrangler_spark.sources.points import GEOMS_SQL, geom_intersects_sql

    ij_arms = "\nUNION ALL\n".join(
        f"SELECT id, geom_type, '{pid}' AS admin_id FROM __g WHERE {geom_intersects_sql(pid, v)}"
        for pid, v in PIP_POLYGONS
    )
    intersects_join = f"WITH __g AS ({GEOMS_SQL})\n{ij_arms}"

    adm_a = PIP_POLYGONS[0]
    type_filter = (
        f"WITH __g AS ({GEOMS_SQL}) SELECT id, geom_type FROM __g "
        f"WHERE NOT (geom_type = 'LineString' AND {geom_intersects_sql(*adm_a)})"
    )

    knn_qs = "(VALUES ('q0', 139.76, 35.68), ('q1', -74.0, 40.71), ('q2', 10.5, -20.25)) AS q(query_id, qlon, qlat)"
    knn = f"""
WITH {pts},
__d AS (SELECT q.query_id, p.id AS neighbor_id,
               (p.lon - q.qlon)*(p.lon - q.qlon) + (p.lat - q.qlat)*(p.lat - q.qlat) AS dist2
        FROM __pts p, {knn_qs}),
__r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id ASC) AS rank FROM __d)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2 FROM __r WHERE rank <= 4
"""

    dedup = f"""
WITH {pts}, {xy},
__r AS (SELECT id, x, y, phash,
               row_number() OVER (PARTITION BY z, x, y, phash ORDER BY id ASC) AS rn
        FROM __xy)
SELECT id, x, y, phash FROM __r WHERE rn = 1
"""

    hexc = halfplane_sql(*PIP_POLYGONS[2])
    pipeline = f"""
WITH {pts},
__surv AS (SELECT * FROM __pts WHERE NOT (kind = 'building' AND ({hexc}))),
__xy AS (SELECT id, phash, CAST({Z} AS INT) AS z, {tile_x_sql('lon', Z)} AS x,
                {tile_y_sql('lat', Z)} AS y FROM __surv),
__r AS (SELECT id, x, y, phash,
               row_number() OVER (PARTITION BY z, x, y, phash ORDER BY id ASC) AS rn
        FROM __xy)
SELECT id, x, y, phash FROM __r WHERE rn = 1
"""

    # tile_encode: replicate the encoder's first-seen-order dictionaries in
    # SQL — key order = (first feature containing the key, key asc within
    # that feature's sorted iteration); value order = (first feature, first
    # key at that feature). Matches _layer_dictionaries' factorize exactly.
    ctes6, last6, tid6 = pmtiles_tile_id_sql(6, "x", "y", "__t0")
    tile_encode = f"""
WITH {pts},
__t0 AS (SELECT id, CAST(id AS VARCHAR) AS image_id, layer, kind,
                {tile_x_sql('lon', 6)} AS x, {tile_y_sql('lat', 6)} AS y,
                'n' || CAST(id % 997 AS VARCHAR) AS nameval,
                (id % 3) = 0 AS has_name
         FROM __pts),
{",".join(ctes6)},
__t AS (SELECT *, {tid6} AS tile_id FROM {last6}),
__r AS (SELECT x, y, tile_id, layer, kind, nameval, has_name,
               row_number() OVER (PARTITION BY x, y, layer ORDER BY image_id) AS rn
        FROM __t),
__e AS (
  SELECT x, y, layer, rn, 'kind' AS key, kind AS val FROM __r
  UNION ALL
  SELECT x, y, layer, rn, 'name' AS key, nameval AS val FROM __r WHERE has_name),
__k AS (SELECT x, y, layer, key, min(rn) AS frn FROM __e GROUP BY 1, 2, 3, 4),
__kj AS (SELECT x, y, layer, CAST(count(*) AS INT) AS n_keys,
                string_agg(key, ',' ORDER BY frn, key) AS keys_joined
         FROM __k GROUP BY 1, 2, 3),
__vf AS (SELECT x, y, layer, val, min(rn) AS frn FROM __e GROUP BY 1, 2, 3, 4),
__v2 AS (SELECT e.x, e.y, e.layer, e.val, v.frn, min(e.key) AS fkey
         FROM __e e JOIN __vf v
           ON e.x = v.x AND e.y = v.y AND e.layer = v.layer
          AND e.val = v.val AND e.rn = v.frn
         GROUP BY 1, 2, 3, 4, 5),
__vj AS (SELECT x, y, layer, CAST(count(*) AS INT) AS n_values,
                string_agg(val, ',' ORDER BY frn, fkey) AS values_joined
         FROM __v2 GROUP BY 1, 2, 3),
__nf AS (SELECT x, y, tile_id, layer, CAST(count(*) AS BIGINT) AS n_features
         FROM __r GROUP BY 1, 2, 3, 4)
SELECT __nf.x, __nf.y, __nf.tile_id, __nf.layer, n_features, n_keys, n_values,
       keys_joined, values_joined
FROM __nf JOIN __kj USING (x, y, layer) JOIN __vj USING (x, y, layer)
"""

    # tag_filter: the fixture's global tag-prune rule RESTATED in SQL and
    # actually evaluated per key (self-checking oracle — VERDICT r2 item 7):
    # drop key if starts_with 'pgf:name:', or starts_with 'name' with a
    # language capture outside the keep list ('', 'ja', 'en', '2').
    tag_filter = f"""
WITH {pts},
__keys AS (SELECT unnest(['kind','name','name:ja','name:fr','pgf:name:ja']) AS k),
__kept AS (
  SELECT string_agg(k, ',' ORDER BY k) AS kept FROM __keys
  WHERE NOT (starts_with(k, 'pgf:name:')
             OR (starts_with(k, 'name')
                 AND regexp_extract(k, '^name:?(.*)$', 1) NOT IN ('', 'ja', 'en', '2')))
)
SELECT id, kept AS kept_keys FROM __pts, __kept"""

    expr_filter = """
SELECT p_partkey FROM part
WHERE p_brand IN ('Brand#13', 'Brand#11', 'Brand#25')
  AND regexp_matches(p_type, 'ECONOMY|PROMO')
  AND CAST(p_size AS VARCHAR) NOT IN ('15', '25', '35', '45')
  AND NOT starts_with(CAST(p_size AS VARCHAR), '1')
  AND CAST(p_size AS VARCHAR) > '2'
"""

    distinct_phash = (
        "WITH " + f"__pts AS ({POINTS_SQL}), "
        + f"__xy AS (SELECT phash, {tile_x_sql('lon', 6)} AS x, {tile_y_sql('lat', 6)} AS y FROM __pts) "
        + "SELECT x, y, CAST(count(DISTINCT phash) AS BIGINT) AS n_phash FROM __xy GROUP BY 1, 2"
    )

    # zonal: brute-force the pixel formula per (id, i, j); qlossy decodes to
    # mid-rise 4-step quantization (v//4*4 + 2) — same as images.encode
    zonal = f"""
WITH __pts AS ({POINTS_SQL}),
__ids AS (SELECT DISTINCT id, CAST(id % 3 AS INT) AS fsel FROM __pts WHERE id % 37 = 3),
__px AS (
  SELECT id, i.i, j.j,
         ((i.i * 2) // 16) * 2 + (j.j * 2) // 24 AS zone,
         CASE WHEN fsel = 2 THEN ((id*31 + i.i*7 + j.j*13) % 256) // 4 * 4 + 2
              ELSE (id*31 + i.i*7 + j.j*13) % 256 END AS r,
         CASE WHEN fsel = 2 THEN ((id*31 + i.i*7 + j.j*13 + 5) % 256) // 4 * 4 + 2
              ELSE (id*31 + i.i*7 + j.j*13 + 5) % 256 END AS g,
         CASE WHEN fsel = 2 THEN ((id*31 + i.i*7 + j.j*13 + 10) % 256) // 4 * 4 + 2
              ELSE (id*31 + i.i*7 + j.j*13 + 10) % 256 END AS b
  FROM __ids, generate_series(0, 15) i(i), generate_series(0, 23) j(j))
SELECT id, CAST(zone AS INT) AS zone, CAST(count(*) AS BIGINT) AS n_px,
       round(CAST(sum(r) AS DOUBLE) / count(*), 6) AS mean_r,
       round(CAST(sum(g) AS DOUBLE) / count(*), 6) AS mean_g,
       round(CAST(sum(b) AS DOUBLE) / count(*), 6) AS mean_b
FROM __px GROUP BY 1, 2
"""

    from mvt_wrangler_spark.operators.dedup import minhash_lsh_sql, pair_clusters_sql

    from mvt_wrangler_spark.functions.cells import h3_cell_sql, s2_cell_sql
    from mvt_wrangler_spark.sources.points import XYZ_SQL

    s2_ctes, s2_last, s2_expr = s2_cell_sql(level=12, base="__xyz")
    h3_ctes, h3_last, h3_expr = h3_cell_sql(res=7, base=s2_last)
    cell_encode = (
        f"WITH __xyz AS ({XYZ_SQL}),\n" + ",\n".join(s2_ctes + h3_ctes)
        + f"\nSELECT id, {s2_expr} AS s2_cell, {h3_expr} AS h3_cell FROM {h3_last}"
    )

    minhash_lsh = minhash_lsh_sql(num_hashes=16, bands=4, shingle=5, max_bucket=1000)
    minhash_clusters = pair_clusters_sql(minhash_lsh)

    cover_ctes, cover_last, cover_s2 = s2_cell_sql(level=12, base="__xyz2")
    cell_cover_join = (
        f"WITH __xyz2 AS ({XYZ_SQL}),\n" + ",\n".join(cover_ctes)
        + f""",
__cp AS (SELECT id, {s2_parent_sql(f'({cover_s2})', 5)} AS p5 FROM {cover_last}),
__cr AS (SELECT DISTINCT p5 AS rcell FROM __cp WHERE id % 29 = 0)
SELECT id, p5 FROM __cp JOIN __cr ON p5 = rcell"""
    )

    return {
        "tile_assign": tile_assign,
        "cell_encode": cell_encode,
        "tile_encode": tile_encode,
        "minhash_lsh": minhash_lsh,
        "cell_cover_join": cell_cover_join,
        "minhash_clusters": minhash_clusters,
        "distinct_phash": distinct_phash,
        "tile_local": tile_local,
        "archive_roundtrip": archive_roundtrip,
        "pyramid_rollup": pyramid,
        "tile_stats_salted": tile_stats,
        "pip_join": pip_join,
        "intersects_join": intersects_join,
        "type_filter": type_filter,
        "knn_join_cells": knn,
        "phash_dedup": dedup,
        "pipeline_e2e": pipeline,
        "tag_filter": tag_filter,
        "expr_filter": expr_filter,
        "zonal_stats": zonal,
    }
