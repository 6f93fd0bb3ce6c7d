"""Zonal assignment, observed metrics, CLI and pyramid-rollup internals."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.functions import tiling
from mvt_wrangler_spark.operators import zonal as Z
from mvt_wrangler_spark.sources import images as I

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.spark
def test_zonal_stats_matches_numpy(spark):
    df = I.synthetic_images(spark, 60, with_pixels=True, partitions=2)
    assigned = tiling.assign_tiles(df, z=10, with_local=False)
    out = Z.zonal_stats(assigned, gx=2, gy=2).collect()
    assert len(out) == 60 * 4
    by_key = {(r.image_id, r.zone): r for r in out}
    rows = {r.image_id: r for r in assigned.collect()}
    for i in (1, 2, 17, 34):
        rid = f"img{i:09d}"
        r = rows[rid]
        px = I.decode(bytes(r.bytes), r.fmt, r.w, r.h)
        counts, means = Z._block_reduce(px, 2, 2)
        for zidx in range(4):
            got = by_key[(rid, zidx)]
            assert got.n_px == counts[zidx]
            assert abs(got.mean_r - means[zidx, 0]) < 1e-9
            assert (got.z, got.x, got.y) == (r.z, r.x, r.y)
    # pixel conservation: zones partition the image exactly
    for rid, r in rows.items():
        tot = sum(by_key[(rid, zz)].n_px for zz in range(4))
        assert tot == r.w * r.h


@pytest.mark.spark
def test_observed_metrics_and_lineage(spark):
    """Observations on a tiled frame count each row once per action, the
    property the ingest's row and kept counts rely on."""
    from pyspark.sql import Observation

    df = I.synthetic_images(spark, 300, with_pixels=False, partitions=3)
    a = tiling.assign_tiles(df, z=4, with_local=False)
    obs = Observation("m")
    # DISTINCT aggregates are disallowed in observed metrics -> approx sketch
    obs_df = a.observe(obs, F.count(F.lit(1)).alias("rows"),
                       F.approx_count_distinct("tile_id").alias("tiles"))
    n = obs_df.count()
    assert obs.get["rows"] == n == 300
    assert obs.get["tiles"] > 1


def test_cli_end_to_end(tmp_path):
    """Drive the real CLI surface in a subprocess (fresh JVM)."""
    src = tmp_path / "in.parquet"
    out = tmp_path / "out"
    prog = tmp_path / "filter.geojson"
    code = (
        f"import sys; sys.path.insert(0, {str(ROOT)!r})\n"
        "from mvt_wrangler_spark.session import get_spark\n"
        "from mvt_wrangler_spark.sources import images as I\n"
        "s = get_spark(master='local[4]', shuffle_partitions=8)\n"
        f"I.synthetic_images(s, 400, with_pixels=False, partitions=2).write.parquet('{src}')\n"
        "s.stop()\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, capture_output=True, timeout=300)
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog.write_text(json.dumps(default_filter_geojson()))
    r = subprocess.run(
        [sys.executable, "-m", "mvt_wrangler_spark.cli", str(src), str(out),
         "--filter", str(prog), "--zoom", "8", "--buckets", "4",
         "--master", "local[4]", "-n", "testset", "--job-id", "t1"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["rows_out"] > 0 and summary["snapshot"] == 1
    meta = json.loads((out / "metadata.json").read_text())
    assert meta["name"] == "testset" and meta["zoom"] == 8
    assert (out / "CURRENT").read_text().strip() == "1"
    assert (out / "stats").exists() and (out / "pyramid").exists()


def test_cli_rejects_missing_input(tmp_path):
    from mvt_wrangler_spark.cli import main

    assert main(["/nonexistent/x.parquet", str(tmp_path / "o")]) == 2


@pytest.mark.spark
def test_pyramid_rollup_single_agg_equals_per_level_chain(spark):
    """Pin the r07 explode + one-groupBy internals of pyramid_rollup
    against the straightforward per-level aggregation it replaced —
    random multi-column integer base, every level compared exactly."""
    from mvt_wrangler_spark.operators import rollup as R

    rng = np.random.default_rng(7)
    base_z = 5
    rows = [(int(base_z), int(x), int(y), int(n), int(b))
            for x, y, n, b in zip(
                rng.integers(0, 1 << base_z, 300),
                rng.integers(0, 1 << base_z, 300),
                rng.integers(1, 1000, 300),
                rng.integers(0, 10**9, 300))]
    # unique per tile, like the per-tile stats contract
    seen, uniq = set(), []
    for r in rows:
        if (r[1], r[2]) not in seen:
            seen.add((r[1], r[2]))
            uniq.append(r)
    base = spark.createDataFrame(
        uniq, "z int, x long, y long, n_rows long, bytes_in long")
    got = {(r.z, r.x, r.y): (r.n_rows, r.bytes_in)
           for r in R.pyramid_rollup(base, base_z=base_z, min_z=0).collect()}
    want = {}
    for z, x, y, n, b in uniq:
        for z2 in range(base_z, -1, -1):
            d = base_z - z2
            key = (z2, x >> d, y >> d)
            n0, b0 = want.get(key, (0, 0))
            want[key] = (n0 + n, b0 + b)
    assert got == want
