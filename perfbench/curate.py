"""`curate`: the CLI's job over a parquet image table, one job per op.

read parquet -> assign_tiles -> with_cells -> broadcast_pip_join (admin
grid) -> filter program (mask, feature rule, tag rule) -> phash_dedup ->
tile_stats + pyramid_rollup -> SnapshotTable.write_snapshot (replace), with
the stats and pyramid tables written beside it.

The check recomputes the surviving keepers with DuckDB over the same
parquet: the tile math through the library's SQL twins, the fixture filter
program and the admin grid written out by hand in SQL.
"""

from __future__ import annotations

import os
import shutil

from . import common as C
from . import trace as T

Z = 10
ADMIN_COLS, ADMIN_ROWS = 24, 12          # 288 admin polygons
ADMIN_LAT = 85.06
KEPT_TAGS = {"name", "name:ja", "name:en", "kind"}
LEAF_SIZE = 256                           # small, so the export has leaves
SIZES = {"full": 3000, "tiny": 400}


def admin_polygons():
    """A grid of boxes covering the mercator world: each point in exactly one."""
    from mvt_wrangler_spark.functions import geometry as G

    dx, dy = 360.0 / ADMIN_COLS, 2 * ADMIN_LAT / ADMIN_ROWS
    polys = []
    for i in range(ADMIN_COLS):
        for j in range(ADMIN_ROWS):
            x0, y0 = -180.0 + i * dx, -ADMIN_LAT + j * dy
            polys.append((f"adm{i * ADMIN_ROWS + j:04d}", G.Polygon(
                [[x0, y0], [x0 + dx, y0], [x0 + dx, y0 + dy], [x0, y0 + dy]])))
    return polys


class Curate(C.Workload):
    name = "curate"
    row_unit = "image rows"

    def __init__(self, size, seed, work_dir):
        super().__init__(size, seed, work_dir)
        from mvt_wrangler_spark.operators.filters import FilterProgram
        from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

        self.n = SIZES[size]
        self.geojson = default_filter_geojson()
        self.program = FilterProgram.from_geojson(self.geojson)
        self.polys = admin_polygons()
        self.images = None
        self._oracle = None

    def generate(self, spark, rep: int) -> None:
        from mvt_wrangler_spark.sources.images import synthetic_images

        path = C.fresh_dir(os.path.join(self.work, f"images-{rep}"))
        (synthetic_images(spark, self.n, seed=self.seed, partitions=8)
         .write.mode("overwrite").parquet(path))
        if self.images:
            shutil.rmtree(self.images)
        self.images = path

    def op(self, spark, k: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from mvt_wrangler_spark.functions import cells, tiling
        from mvt_wrangler_spark.operators import dedup, filters, joins, rollup
        from mvt_wrangler_spark.operators.tile_encode import decode_tiles, encode_tiles
        from mvt_wrangler_spark.sources.catalog import SnapshotTable
        from mvt_wrangler_spark.sources.pmtiles import read_pmtiles, write_pmtiles

        prog, t = self.program, tracer.enabled
        out_root = C.fresh_dir(os.path.join(self.work, f"out-{k}"))
        rec = {"k": k, "root": out_root}
        t_op = C.now()
        plan = [0.0]

        def lazy(fn, *a, **kw):
            t0 = C.now()
            res = fn(*a, **kw)
            plan[0] += C.now() - t0
            return res

        tags = F.size("tags").cast("long")
        images = lazy(spark.read.parquet, self.images)
        if t:
            rec["scan"] = tracer.prefix(k, "scan", images)
        assigned = lazy(tiling.assign_tiles, images, z=Z)
        if t:
            tracer.prefix(k, "tiling", assigned)
        celled = lazy(cells.with_cells, assigned, lat="lat", lng="lon")
        if t:
            tracer.prefix(k, "cells", celled)
        joined = lazy(joins.broadcast_pip_join, spark, celled, self.polys)
        if t:
            rec["joins"] = tracer.prefix(k, "joins", joined,
                                         rows=F.count(F.lit(1)), tags=F.sum(tags))
        masked = lazy(joined.withColumn, "filter_mask",
                      filters.filter_mask_native(prog, F.col("lon"), F.col("lat")))
        surv = lazy(filters.apply_feature_filter, masked, prog)
        surv = lazy(filters.apply_tag_filter, surv, prog)
        if t:
            rec["filters"] = tracer.prefix(k, "filters", surv,
                                           rows=F.count(F.lit(1)), tags=F.sum(tags))
        deduped = lazy(dedup.phash_dedup, surv)
        if t:
            rec["dedup"] = tracer.prefix(k, "dedup", deduped, rows=F.count(F.lit(1)))
        stats = lazy(rollup.tile_stats, deduped, n_salt=8, salt_col="image_id")
        with tracer.span(k, "rollup"):
            # pyramid_rollup checkpoints the stats eagerly: not a lazy call
            pyramid = rollup.pyramid_rollup(
                stats.select("z", "x", "y", "n_rows", "bytes_in"), base_z=Z, min_z=0)
            if t:
                rec["rollup"] = T.observed_force(pyramid, tiles=F.count(F.lit(1)))
        with tracer.span(k, "catalog"):
            table = SnapshotTable(os.path.join(out_root, "table"), n_buckets=16,
                                  key_max=tiling._zoom_acc(Z + 1) - 1,
                                  key_min=tiling._zoom_acc(Z))
            snap = table.write_snapshot(deduped, job_id=f"curate-{k}",
                                        sort_col="tile_id")
            stats.write.mode("overwrite").parquet(os.path.join(out_root, "stats"))
            pyramid.write.mode("overwrite").parquet(os.path.join(out_root, "pyramid"))
        # the CLI's --pmtiles export: MVT-encode the keepers per tile and
        # stream them into one clustered archive
        encoded = lazy(encode_tiles, deduped)
        if t:
            rec["encode"] = tracer.prefix(k, "tile_encode", encoded, name="encode",
                                          tiles=F.count(F.lit(1)))
        archive = os.path.join(out_root, "tiles.pmtiles")
        with tracer.span(k, "pmtiles", "write"):
            rec["write"] = write_pmtiles(encoded, archive, metadata={"name": "curate"},
                                         leaf_size=LEAF_SIZE)
        rec.update(
            rows=self.n, latencies=[C.now() - t_op], plan_s=plan[0],
            snapshot=snap, files=sum(len(b["files"]) for b in snap["buckets"]),
            archive=archive, output_bytes=C.dir_bytes(out_root),
        )
        if t:
            # a server's read of the export, traced after the job so the
            # reader and decoder are measured without entering the latency
            tiles = read_pmtiles(spark, archive)
            rec["read"] = tracer.prefix(k, "pmtiles", tiles, name="read")
            rec["decode"] = tracer.prefix(k, "tile_encode", decode_tiles(tiles),
                                          name="decode", rows=F.count(F.lit(1)))
        return rec

    # -- check ---------------------------------------------------------------
    def oracle(self) -> dict[str, str]:
        """keeper image_id -> admin_id, computed by DuckDB over the parquet."""
        if self._oracle is None:
            import duckdb

            from mvt_wrangler_spark.functions.tiling import tile_x_sql, tile_y_sql

            (m1, m2) = [f["geometry"]["coordinates"][0]
                        for f in self.geojson["features"][:2]]

            def inside(ring):
                xs, ys = [p[0] for p in ring], [p[1] for p in ring]
                return (f"(lon BETWEEN {min(xs)!r} AND {max(xs)!r} "
                        f"AND lat BETWEEN {min(ys)!r} AND {max(ys)!r})")

            dx, dy = 360.0 / ADMIN_COLS, 2 * ADMIN_LAT / ADMIN_ROWS
            sql = f"""
            WITH src AS (
              SELECT image_id, phash, lon, lat, layer, kind,
                     {tile_x_sql('lon', Z)} AS x, {tile_y_sql('lat', Z)} AS y
              FROM read_parquet('{self.images}/*.parquet')),
            surv AS (
              SELECT * FROM src
              WHERE NOT (({inside(m1)} AND layer = 'pois')
                         OR ({inside(m2)} AND layer = 'buildings'
                             AND kind = 'building')))
            SELECT min(image_id) AS keeper,
                   'adm' || lpad(CAST(
                     CAST(floor((arg_min(lon, image_id) + 180.0) / {dx!r}) AS BIGINT)
                     * {ADMIN_ROWS}
                     + CAST(floor((arg_min(lat, image_id) + {ADMIN_LAT!r}) / {dy!r})
                            AS BIGINT) AS VARCHAR), 4, '0') AS admin
            FROM surv GROUP BY x, y, phash
            """
            con = duckdb.connect()
            try:
                self._oracle = dict(con.execute(sql).fetchall())
            finally:
                con.close()
        return self._oracle

    def check(self, spark, rec: dict, corrupt: bool = False) -> bool:
        import pyarrow.parquet as pq

        paths = [os.path.join(b["path"], fn)
                 for b in rec["snapshot"]["buckets"] for fn in b["files"]]
        if corrupt:
            os.remove(max(paths, key=os.path.getsize))
        rows = {}
        for p in paths:
            if not os.path.exists(p):
                return False
            tbl = pq.read_table(p, columns=["image_id", "admin_id", "tags"])
            for iid, adm, tg in zip(*(tbl.column(c).to_pylist()
                                      for c in ("image_id", "admin_id", "tags"))):
                if {kv[0] for kv in tg} != KEPT_TAGS:
                    return False
                rows[iid] = adm
        want = self.oracle()
        if not self._archive_ok(rec["archive"], len(want)):
            return False
        stats = pq.read_table(os.path.join(rec["root"], "stats"))
        pyr = pq.read_table(os.path.join(rec["root"], "pyramid")).to_pydict()
        top = [n for z, n in zip(pyr["z"], pyr["n_rows"]) if z == 0]
        return (rows == want
                and sum(stats.column("n_rows").to_pylist()) == len(want)
                and top == [len(want)])

    @staticmethod
    def _archive_ok(path: str, n_keepers: int) -> bool:
        """The export holds one feature per keeper, with the kept tag keys."""
        from mvt_wrangler_spark.operators.tile_encode import decode_tile_blob
        from mvt_wrangler_spark.sources.pmtiles import PMTilesReader

        rd = PMTilesReader(path)
        n = 0
        for tid in rd.tile_ids():
            for layer in decode_tile_blob(rd.get_tile(tid))["layers"]:
                if not set(layer["keys"]) <= KEPT_TAGS:
                    return False
                n += len(layer["features"])
        return n == n_keepers

    # -- per-layer ------------------------------------------------------------
    def layer_metrics(self, tracer, traced, stats) -> dict:
        def med(fn):
            return C.median([fn(r) for r in traced])

        def self_t(name, before=None):
            return med(lambda r: tracer.self_time(r["k"], name, before))

        return {
            "scan.self_s": self_t("scan"),
            "tiling.self_s": self_t("tiling", "scan"),
            "cells.self_s": self_t("cells", "tiling"),
            "joins.self_s": self_t("joins", "cells"),
            "joins.rows_out": med(lambda r: r["joins"]["rows"]),
            "filters.self_s": self_t("filters", "joins"),
            "filters.rows_in": med(lambda r: r["joins"]["rows"]),
            "filters.rows_out": med(lambda r: r["filters"]["rows"]),
            "filters.tag_entries_in": med(lambda r: r["joins"]["tags"]),
            "filters.tag_entries_out": med(lambda r: r["filters"]["tags"]),
            "dedup.self_s": self_t("dedup", "filters"),
            "dedup.rows_in": med(lambda r: r["filters"]["rows"]),
            "dedup.rows_out": med(lambda r: r["dedup"]["rows"]),
            "dedup.shuffle_bytes": stats.shuffle_bytes("dedup"),
            "rollup.self_s": self_t("rollup", "dedup"),
            "rollup.tiles_out": med(lambda r: r["rollup"]["tiles"]),
            "rollup.shuffle_bytes": stats.shuffle_bytes("rollup"),
            "catalog.write_s": med(lambda r: tracer.self_time(r["k"], "catalog")
                                   - tracer.self_time(r["k"], "dedup")
                                   - tracer.self_time(r["k"], "rollup")),
            "tile_encode.encode_s": self_t("encode", "dedup"),
            "pmtiles.write_s": self_t("write", "encode"),
            "pmtiles.read_s": self_t("read"),
            "tile_encode.decode_s": self_t("decode", "read"),
            "tile_encode.tiles": med(lambda r: r["encode"]["tiles"]),
            "tile_encode.features": med(lambda r: r["decode"]["rows"]),
            "pmtiles.unique_blobs": med(lambda r: r["write"]["unique_blobs"]),
            "pmtiles.leaves": med(lambda r: r["write"]["leaves"]),
            "catalog.files": med(lambda r: r["files"]),
            "catalog.bytes": med(lambda r: r["output_bytes"]),
            "catalog.snapshots": 1,
            "pipeline.plan_s": med(lambda r: r["plan_s"]),
        }
