"""`archive_rewrite`: the reference's own PMTiles -> filter -> PMTiles job.

read_pmtiles -> decode_tiles -> lon/lat rebuilt from tile-local coords ->
the fixture filter program -> encode_tiles -> write_pmtiles, one rewrite of
the whole archive per op. The input archive is deep-zoom point data: many
one-feature rural tiles, a few dense metro tiles, the reference's six-key
tag set, and a leaf size small enough that both archives need leaf
directories.

The check recomputes the expected survivor count in numpy from the
generator's coordinates, quantised to the tile grid the way the MVT encoder
stores them, and reads the output archive back to count features and tag
keys.
"""

from __future__ import annotations

import os

import numpy as np

from . import common as C

Z = 12
EXTENT = 4096
# (features, leaf size): small leaves, so both archives need leaf directories
SIZES = {"full": (8000, 256), "tiny": (400, 64)}


class ArchiveRewrite(C.Workload):
    name = "archive_rewrite"
    row_unit = "decoded features"

    def __init__(self, size, seed, work_dir):
        super().__init__(size, seed, work_dir)
        from mvt_wrangler_spark.operators.filters import FilterProgram
        from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

        self.n, self.leaf_size = SIZES[size]
        self.geojson = default_filter_geojson()
        self.program = FilterProgram.from_geojson(self.geojson)
        self.archive = None
        self._expected = None

    def generate(self, spark, rep: int) -> None:
        from mvt_wrangler_spark.functions import tiling
        from mvt_wrangler_spark.operators.tile_encode import encode_tiles
        from mvt_wrangler_spark.sources.images import synthetic_images
        from mvt_wrangler_spark.sources.pmtiles import write_pmtiles

        path = os.path.join(self.work, f"in-{rep}.pmtiles")
        points = synthetic_images(spark, self.n, seed=self.seed,
                                  with_pixels=False, partitions=8)
        self.input_stats = write_pmtiles(
            encode_tiles(tiling.assign_tiles(points, z=Z)), path,
            metadata={"name": f"perfbench-{self.seed}"}, leaf_size=self.leaf_size)
        if self.archive:
            os.remove(self.archive)
        self.archive = path

    def op(self, spark, k: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from mvt_wrangler_spark.functions import tiling
        from mvt_wrangler_spark.operators import filters
        from mvt_wrangler_spark.operators.tile_encode import decode_tiles, encode_tiles
        from mvt_wrangler_spark.sources.pmtiles import read_pmtiles, write_pmtiles

        prog, t = self.program, tracer.enabled
        out = os.path.join(self.work, f"out-{k}.pmtiles")
        rec = {"k": k, "path": out}
        t_op = C.now()
        plan = 0.0
        tags = F.size("tags").cast("long")
        count = F.count(F.lit(1))

        t0 = C.now()
        tiles = read_pmtiles(spark, self.archive)
        plan += C.now() - t0
        if t:
            rec["read"] = tracer.prefix(k, "pmtiles", tiles, name="read",
                                        tiles=count)
        t0 = C.now()
        feats = decode_tiles(tiles)
        plan += C.now() - t0
        if t:
            rec["decode"] = tracer.prefix(k, "tile_encode", feats, name="decode",
                                          rows=count, tags=F.sum(tags))
        t0 = C.now()
        fx = F.col("x") + F.element_at("pxs", 1) / float(EXTENT)
        fy = F.col("y") + F.element_at("pys", 1) / float(EXTENT)
        feats = (feats.withColumn("lon", tiling.tile_lon(fx, Z))
                 .withColumn("lat", tiling.tile_lat(fy, Z)))
        masked = feats.withColumn(
            "filter_mask", filters.filter_mask_native(prog, F.col("lon"), F.col("lat")))
        surv = filters.apply_tag_filter(filters.apply_feature_filter(masked, prog), prog)
        plan += C.now() - t0
        if t:
            rec["filters"] = tracer.prefix(k, "filters", surv, rows=count,
                                           tags=F.sum(tags))
        t0 = C.now()
        # surrogate feature ids: the input's string ids were not stored
        surv = surv.withColumn("image_id", F.concat_ws(
            "_", "tile_id", F.element_at("pxs", 1).cast("int"),
            F.element_at("pys", 1).cast("int"), F.col("layer")))
        surv = (surv.withColumn("px", F.element_at("pxs", 1))
                .withColumn("py", F.element_at("pys", 1))
                .drop("geom_type", "pxs", "pys"))
        encoded = encode_tiles(surv)
        plan += C.now() - t0
        if t:
            rec["encode"] = tracer.prefix(k, "tile_encode", encoded, name="encode",
                                          tiles=count)
        with tracer.span(k, "pmtiles", "write"):
            rec["write"] = write_pmtiles(encoded, out, metadata={"name": "rewrite"},
                                         leaf_size=self.leaf_size)
        rec.update(rows=self.n, latencies=[C.now() - t_op], plan_s=plan,
                   output_bytes=os.path.getsize(out))
        return rec

    # -- check ---------------------------------------------------------------
    def expected_survivors(self) -> int:
        """Survivors of the fixture program on the quantised coordinates."""
        if self._expected is None:
            from mvt_wrangler_spark.sources.images import (
                KIND_CYCLE, KIND_LAYER, lonlat_for)

            ids = np.arange(self.n, dtype=np.int64)
            lon, lat = lonlat_for(ids, self.seed)
            n = float(1 << Z)
            fx = (lon + 180.0) / 360.0 * n
            rad = np.radians(lat)
            fy = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n
            x = np.clip(np.floor(fx), 0, n - 1)
            y = np.clip(np.floor(fy), 0, n - 1)
            qx = x + np.rint((fx - x) * EXTENT) / EXTENT
            qy = y + np.rint((fy - y) * EXTENT) / EXTENT
            qlon = qx / n * 360.0 - 180.0
            qlat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * qy / n))))
            kind = np.array(KIND_CYCLE)[ids % len(KIND_CYCLE)]
            layer = np.array([KIND_LAYER[k] for k in kind])
            (m1, m2) = [np.array(f["geometry"]["coordinates"][0])
                        for f in self.geojson["features"][:2]]

            def inside(ring):
                return ((qlon >= ring[:, 0].min()) & (qlon <= ring[:, 0].max())
                        & (qlat >= ring[:, 1].min()) & (qlat <= ring[:, 1].max()))

            dropped = ((inside(m1) & (layer == "pois"))
                       | (inside(m2) & (layer == "buildings") & (kind == "building")))
            self._expected = int((~dropped).sum())
        return self._expected

    def check(self, spark, rec: dict, corrupt: bool = False) -> bool:
        import shutil

        from pyspark.sql import functions as F

        from mvt_wrangler_spark.operators.tile_encode import decode_tiles
        from mvt_wrangler_spark.sources.pmtiles import read_pmtiles

        if corrupt:
            shutil.copyfile(self.archive, rec["path"])
        back = decode_tiles(read_pmtiles(spark, rec["path"]))
        row = back.agg(F.count(F.lit(1)).alias("n"),
                       F.array_distinct(F.flatten(F.collect_list(
                           F.map_keys("tags")))).alias("keys")).first()
        keys = set(row.keys or [])
        return (row.n == self.expected_survivors()
                and "name:fr" not in keys
                and not any(key.startswith("pgf:name:") for key in keys)
                and {"name", "name:ja", "name:en", "kind"} <= keys)

    # -- per-layer ------------------------------------------------------------
    def layer_metrics(self, tracer, traced, stats) -> dict:
        def med(fn):
            return C.median([fn(r) for r in traced])

        def self_t(name, before=None):
            return med(lambda r: tracer.self_time(r["k"], name, before))

        return {
            "pmtiles.read_s": self_t("read"),
            "tile_encode.decode_s": self_t("decode", "read"),
            "filters.self_s": self_t("filters", "decode"),
            "tile_encode.encode_s": self_t("encode", "filters"),
            "pmtiles.write_s": self_t("write", "encode"),
            "filters.rows_in": med(lambda r: r["decode"]["rows"]),
            "filters.rows_out": med(lambda r: r["filters"]["rows"]),
            "filters.tag_entries_in": med(lambda r: r["decode"]["tags"]),
            "filters.tag_entries_out": med(lambda r: r["filters"]["tags"]),
            "tile_encode.tiles": med(lambda r: r["encode"]["tiles"]),
            "tile_encode.features": med(lambda r: r["decode"]["rows"]),
            "pmtiles.unique_blobs": med(lambda r: r["write"]["unique_blobs"]),
            "pmtiles.leaves": med(lambda r: r["write"]["leaves"]),
            "pipeline.plan_s": med(lambda r: r["plan_s"]),
        }
