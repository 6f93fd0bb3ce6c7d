"""Zonal assignment, observed metrics, CLI, as-of and interval joins, spatial
statistics and pyramid-rollup internals."""

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
def test_asof_join_semantics(spark):
    """Backward as-of: inclusive ties, LEFT semantics, deterministic dup
    winner (max value struct), NULL-time rows never match."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (1, 20, 250.0),  # dup (key, t)
         (2, 50, 900.0)],
        "k long, t long, v double")
    left = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 10), (3, 1, 20), (4, 1, 25),
         (5, 2, 49), (6, 2, 50), (7, 3, 99), (8, 1, None)],
        "id long, k long, t long")
    out = {r.id: r.v_r for r in
           asof_join(left, right, on="k", left_time="t", right_time="t",
                     value_cols=["v"]).collect()}
    assert out[1] is None          # before any right row
    assert out[2] == 100.0         # inclusive >= at t=10
    assert out[3] == 250.0         # dup (1,20): max struct wins
    assert out[4] == 250.0
    assert out[5] is None
    assert out[6] == 900.0         # inclusive tie
    assert out[7] is None          # key with no right rows at all
    assert out[8] is None          # NULL left time matches nothing

    # multiple value columns ride one struct; row count preserved (LEFT)
    r2 = right.withColumn("w", F.col("v") * 2)
    got = asof_join(left, r2, on="k", left_time="t", right_time="t",
                    value_cols=["v", "w"])
    assert got.count() == left.count()
    row = {r.id: (r.v_r, r.w_r) for r in got.collect()}[3]
    assert row == (250.0, 500.0)

    # plan shape: ONE key-partitioned window, no SinglePartition funnel,
    # no join node at all
    plan = got._jdf.queryExecution().executedPlan().toString().lower()
    assert "singlepartition" not in plan
    assert "sortmergejoin" not in plan and "broadcasthashjoin" not in plan


@pytest.mark.spark
def test_interval_join_matches_bruteforce(spark):
    """Bucketed interval join == brute-force range predicate, including
    boundary-equal points, negative values, and bucket-edge values."""
    import random

    from mvt_wrangler_spark.operators.joins import interval_join

    rng = random.Random(11)
    pts = [(i, rng.randint(-500, 500)) for i in range(400)]
    pts += [(1000, -100), (1001, 0), (1002, 100)]  # exact bucket edges
    ivs = []
    for j in range(120):
        s = rng.randint(-500, 450)
        ivs.append((j, s, s + rng.randint(0, 80)))
    ivs += [(900, -100, -100), (901, 0, 0), (902, 99, 100)]  # degenerate + edge
    p = spark.createDataFrame(pts, "pid long, t long")
    iv = spark.createDataFrame(ivs, "iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in interval_join(
        p, iv, point_col="t", start_col="lo", end_col="hi",
        bucket_width=50).collect()}
    want = {(pid, iid) for pid, t in pts for iid, lo, hi in ivs if lo <= t <= hi}
    assert got == want and len(want) > 500


@pytest.mark.spark
def test_interval_join_overflow_modes(spark):
    from mvt_wrangler_spark.operators.joins import interval_join

    p = spark.createDataFrame([(i, i * 10) for i in range(50)], "pid long, t long")
    iv = spark.createDataFrame(
        [(0, 40, 60), (1, -10_000, 10_000)], "iid long, lo long, hi long")
    # error mode: the wide interval (2001 buckets at width 10) trips the cap
    bad = interval_join(p, iv, point_col="t", start_col="lo", end_col="hi",
                        bucket_width=10, max_buckets_per_interval=100)
    with pytest.raises(Exception, match="max_buckets_per_interval"):
        bad.collect()
    # broadcast mode: wide interval routed through the broadcast arm, exact
    got = {(r.pid, r.iid) for r in interval_join(
        p, iv, point_col="t", start_col="lo", end_col="hi", bucket_width=10,
        max_buckets_per_interval=100, overflow="broadcast").collect()}
    want = {(pid, iid) for pid in range(50) for iid, lo, hi in
            [(0, 40, 60), (1, -10_000, 10_000)] if lo <= pid * 10 <= hi}
    assert got == want
    # every point matches the global interval
    assert sum(1 for _, iid in got if iid == 1) == 50


def test_interval_join_rejects_bad_args(spark):
    from mvt_wrangler_spark.operators.joins import interval_join

    p = spark.createDataFrame([(1, 2)], "a long, t long")
    iv = spark.createDataFrame([(1, 2, 3)], "a long, lo long, hi long")
    with pytest.raises(ValueError, match="overlapping"):
        interval_join(p, iv, point_col="t", start_col="lo", end_col="hi",
                      bucket_width=10)
    iv2 = spark.createDataFrame([(1, 2, 3)], "iid long, lo long, hi long")
    with pytest.raises(ValueError, match="bucket_width"):
        interval_join(p, iv2, point_col="t", start_col="lo", end_col="hi",
                      bucket_width=0)


@pytest.mark.spark
def test_interval_join_null_endpoints_dropped(spark):
    """NULL-endpoint intervals never match and must NOT trip the cap guard
    (assert_true raises on NULL comparisons if they reach it)."""
    from mvt_wrangler_spark.operators.joins import interval_join

    p = spark.createDataFrame([(1, 50), (2, None)], "pid long, t long")
    iv = spark.createDataFrame(
        [(0, 40, 60), (1, None, 60), (2, 40, None), (3, None, None)],
        "iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in interval_join(
        p, iv, point_col="t", start_col="lo", end_col="hi",
        bucket_width=10, max_buckets_per_interval=5).collect()}
    assert got == {(1, 0)}


def test_morans_i_matches_bruteforce(spark):
    """Operator output equals the textbook double-loop formula, and the
    sign behaves: clustered grid -> positive, checkerboard -> negative."""
    from mvt_wrangler_spark.operators.rollup import morans_i

    def brute(cells):
        n = len(cells)
        m = sum(c for _, _, c in cells) / n
        num = den = s0 = 0
        for (x1, y1, c1) in cells:
            den += (c1 - m) ** 2
            for (x2, y2, c2) in cells:
                if (x1, y1) != (x2, y2) and abs(x1 - x2) <= 1 and abs(y1 - y2) <= 1:
                    num += (c1 - m) * (c2 - m)
                    s0 += 1
        return n, s0, (n / s0) * num / den

    def run(cells):
        df = spark.createDataFrame(cells, "x int, y int, cnt long")
        r = morans_i(df).collect()[0]
        return r["n_tiles"], r["s0"], r["morans_i"]

    # clustered: a hot 2x2 block inside a cold 4x4 grid
    clustered = [(x, y, 100 if x < 2 and y < 2 else 1)
                 for x in range(4) for y in range(4)]
    n, s0, i_ref = brute(clustered)
    ng, s0g, ig = run(clustered)
    assert (ng, s0g) == (n, s0)
    assert abs(ig - i_ref) < 1e-6 and ig > 0

    # checkerboard: alternating high/low -> negative autocorrelation
    checker = [(x, y, 10 if (x + y) % 2 == 0 else 1)
               for x in range(4) for y in range(4)]
    n, s0, i_ref = brute(checker)
    ng, s0g, ig = run(checker)
    assert (ng, s0g) == (n, s0)
    assert abs(ig - i_ref) < 1e-6 and ig < 0

    # constant field: denominator 0 -> null, not a crash
    flat = [(x, y, 5) for x in range(3) for y in range(3)]
    assert run(flat)[2] is None


def test_getis_ord_gi_matches_bruteforce(spark):
    """Gi* per tile equals the textbook formula; the hot block scores the
    highest z and cold corners score negative."""
    import math

    from mvt_wrangler_spark.operators.rollup import getis_ord_gi

    cells = [(x, y, 100 if x < 2 and y < 2 else 1)
             for x in range(5) for y in range(5)]
    df = spark.createDataFrame(cells, "x int, y int, cnt long")
    got = {(r["x"], r["y"]): r for r in getis_ord_gi(df).collect()}

    n = len(cells)
    t = sum(c for _, _, c in cells)
    q = sum(c * c for _, _, c in cells)
    m = t / n
    s = math.sqrt(q / n - m * m)
    by_xy = {(x, y): c for x, y, c in cells}
    for (x, y, c) in cells:
        hood = [by_xy[(x + dx, y + dy)] for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (x + dx, y + dy) in by_xy]
        w = len(hood)
        den = s * math.sqrt((n * w - w * w) / (n - 1))
        ref = (sum(hood) - m * w) / den
        r = got[(x, y)]
        assert r["w_i"] == w
        assert abs(r["gi_star"] - ref) < 1e-6, (x, y)
    assert got[(0, 0)]["gi_star"] == max(r["gi_star"] for r in got.values())
    assert got[(4, 4)]["gi_star"] < 0


def test_tile_smooth_separable_equals_dense_kernel(spark):
    """The two-pass separable convolution equals the dense 5x5 binomial
    kernel applied by brute force over an implicit zero grid."""
    from collections import defaultdict

    from mvt_wrangler_spark.operators.rollup import _BINOM5, tile_smooth

    rows = [(10, 10, 7), (11, 10, 3), (13, 12, 1), (0, 0, 5)]
    expected = defaultdict(int)
    for x, y, c in rows:
        for dx, wx in zip((-2, -1, 0, 1, 2), _BINOM5):
            for dy, wy in zip((-2, -1, 0, 1, 2), _BINOM5):
                expected[(x + dx, y + dy)] += c * wx * wy
    df = spark.createDataFrame(rows, "x long, y long, cnt long")
    got = {(r.x, r.y): r.smooth for r in tile_smooth(df).collect()}
    assert got == dict(expected)
    # kernel mass conservation: total smooth = 256 * total count
    assert sum(got.values()) == 256 * sum(c for _, _, c in rows)


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
