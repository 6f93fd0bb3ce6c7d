"""spark-submit entry point — mirrors the reference CLI surface.

Reference: mvt-wrangler <in.pmtiles> <out.pmtiles> [--filter f.geojson]
[-n name] [-N description] [-A attribution]   (/root/reference/src/lib.rs:12-37)

Here: the archive is a snapshot table of image rows; the run is
  spark-submit --master <...> --py-files mvt_wrangler_spark.zip \
      scripts/submit_job.py \
      <in_table.parquet|snapshot-root> <out-root> [--filter f.geojson] \
      [--zoom Z] [--min-zoom 0] [--buckets 16] [--job-id J] \
      [--pmtiles out.pmtiles] [-n NAME] [-N DESC] [-A ATTR]
(re-running with the same --job-id resumes from the staged write)

Output layout (SnapshotTable): data/bucket=*/ sorted by tile_id (the ordered
sink, processing.rs:98-121 analog), manifests with per-partition lineage,
metadata.json sidecar (metadata.rs:7-35 analog: input metadata merged with
CLI overrides).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mvt-wrangler-spark",
                                description="spatial-join + tiling engine over image tables")
    p.add_argument("input", help="input parquet path or snapshot-table root")
    p.add_argument("output", help="output snapshot-table root")
    p.add_argument("--filter", dest="filter_path", help="GeoJSON filter program")
    p.add_argument("--zoom", type=int, default=10)
    p.add_argument("--min-zoom", type=int, default=0)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--job-id", default=None, help="stable id enables resume")
    p.add_argument("--pmtiles", default=None, metavar="PATH",
                   help="also export a real PMTiles v3 archive (serving format; "
                        "tiles MVT-encoded per tile_id)")
    p.add_argument("-n", "--name", default=None)
    p.add_argument("-N", "--description", default=None)
    p.add_argument("-A", "--attribution", default=None)
    p.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # validate before touching Spark (lib.rs:40-65 does the same up front)
    program = None
    if args.filter_path:
        from .operators.filters import FilterProgram

        program = FilterProgram.load(args.filter_path)  # raises on bad program
    if not os.path.exists(args.input):
        print(f"error: input does not exist: {args.input}", file=sys.stderr)
        return 2
    from .functions.tiling import MAX_ZOOM

    if not 0 <= args.min_zoom <= args.zoom <= MAX_ZOOM:
        print(f"error: need 0 <= --min-zoom <= --zoom <= {MAX_ZOOM}, got "
              f"--min-zoom {args.min_zoom} --zoom {args.zoom}", file=sys.stderr)
        return 2

    from pyspark.sql import functions as F

    from .plans.pipeline import run_pipeline
    from .session import get_spark
    from .sources.catalog import SnapshotTable

    spark = get_spark(master=args.master, app_name="mvt-wrangler-spark-cli")
    t0 = time.time()

    if os.path.exists(f"{args.input}/CURRENT"):
        images = SnapshotTable(args.input).read_current(spark)
    else:
        images = spark.read.parquet(args.input)

    res = run_pipeline(spark, images, program, z=args.zoom, min_z=args.min_zoom)

    from .functions.tiling import _zoom_acc

    # tile ids at zoom z live in [_zoom_acc(z), _zoom_acc(z+1)) — range-bucket
    # on that bound so concatenated buckets are globally tile_id-ordered (S5/W1)
    out = SnapshotTable(args.output, n_buckets=args.buckets,
                        key_max=_zoom_acc(args.zoom + 1) - 1,
                        key_min=_zoom_acc(args.zoom))
    job_id = args.job_id or f"cli-{int(t0)}"
    snap = out.write_snapshot(res.deduped, job_id=job_id, sort_col="tile_id")

    # stats + pyramid land next to the data (tile_stats table of the survey)
    res.stats.write.mode("overwrite").parquet(f"{args.output}/stats")
    res.pyramid.write.mode("overwrite").parquet(f"{args.output}/pyramid")

    # metadata sidecar: input metadata merged with CLI overrides (metadata.rs)
    meta_in = {}
    in_meta_path = f"{args.input}/metadata.json"
    if os.path.exists(in_meta_path):
        with open(in_meta_path) as f:
            meta_in = json.load(f)
    for key, val in (("name", args.name), ("description", args.description),
                     ("attribution", args.attribution)):
        if val is not None:
            meta_in[key] = val
    meta_in.update({"zoom": args.zoom, "min_zoom": args.min_zoom,
                    "snapshot": snap["snapshot"], "job_id": job_id})
    with open(f"{args.output}/metadata.json", "w") as f:
        json.dump(meta_in, f, indent=1)

    pm_stats = None
    if args.pmtiles:
        # real PMTiles v3 serving archive: MVT-encode the surviving rows per
        # tile, merge the sorted tiles into one clustered file (lib.rs:82-95)
        from .operators.tile_encode import encode_tiles
        from .sources.pmtiles import write_pmtiles

        rows = res.deduped
        if "tags" not in rows.columns:
            rows = rows.withColumn("tags", F.create_map(F.lit("kind"), F.col("kind")))
        pm_stats = write_pmtiles(encode_tiles(rows), args.pmtiles, metadata=meta_in)

    print(json.dumps({
        "rows_out": snap["total_rows"],
        "buckets": len(snap["buckets"]),
        "wall_sec": round(time.time() - t0, 1),
        "snapshot": snap["snapshot"],
        **({"pmtiles": pm_stats} if pm_stats else {}),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
