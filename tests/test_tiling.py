"""Tiling math: Spark columns vs pure-Python oracle + structural properties."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.functions import tiling
from tests.oracle import tiling_oracle as orc


def test_hilbert_adjacency_property():
    """Consecutive Hilbert positions are grid neighbors — defining property."""
    for z in (1, 2, 3, 5):
        n = 1 << z
        pos = {orc.hilbert_d(z, x, y): (x, y) for x in range(n) for y in range(n)}
        assert len(pos) == n * n  # bijective
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = pos[d], pos[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_pmtiles_ids_zoom_prefix():
    # PMTiles v3: z0 -> 0; z1 -> 1..4 in Hilbert order (0,0),(0,1),(1,1),(1,0)
    assert orc.pmtiles_tile_id(0, 0, 0) == 0
    assert orc.pmtiles_tile_id(1, 0, 0) == 1
    assert orc.pmtiles_tile_id(1, 0, 1) == 2
    assert orc.pmtiles_tile_id(1, 1, 1) == 3
    assert orc.pmtiles_tile_id(1, 1, 0) == 4
    assert orc.pmtiles_tile_id(2, 0, 0) == 5
    # zoom accumulator
    assert orc.pmtiles_tile_id(3, 0, 0) == 21


def test_tile_xy_known_points():
    # Tokyo @ z10 (well-known slippy-map tile)
    assert orc.tile_xy(139.7670, 35.6814, 10) == (909, 403)
    # Null island
    assert orc.tile_xy(0.0, 0.0, 1) == (1, 1)
    assert orc.tile_xy(-180.0, 85.0511287798, 4) == (0, 0)


def test_roundtrip_bounds_contain_point():
    rng = random.Random(42)
    for _ in range(200):
        lon = rng.uniform(-179.99, 179.99)
        lat = rng.uniform(-84.9, 84.9)
        for z in (0, 4, 10, 15):
            x, y = orc.tile_xy(lon, lat, z)
            lo, la0, hi, la1 = orc.tile_bounds(z, x, y)
            assert lo - 1e-9 <= lon <= hi + 1e-9
            assert la0 - 1e-9 <= lat <= la1 + 1e-9
            px, py = orc.tile_local(lon, lat, z, x, y)
            assert -1e-6 <= px <= 4096 + 1e-6
            assert -1e-6 <= py <= 4096 + 1e-6


@pytest.mark.spark
def test_spark_matches_oracle(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.uniform(-179.99, 179.99), rng.uniform(-84.9, 84.9)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    for z in (0, 4, 10):
        out = tiling.assign_tiles(df, z).select("id", "lon", "lat", "x", "y", "tile_id", "px", "py")
        for r in out.collect():
            ex, ey = orc.tile_xy(r.lon, r.lat, z)
            assert (r.x, r.y) == (ex, ey), (z, r.lon, r.lat)
            assert r.tile_id == orc.pmtiles_tile_id(z, ex, ey)
            epx, epy = orc.tile_local(r.lon, r.lat, z, ex, ey)
            assert math.isclose(r.px, epx, abs_tol=1e-9)
            assert math.isclose(r.py, epy, abs_tol=1e-9)


@pytest.mark.spark
def test_hilbert_sql_matches_spark(spark):
    """The DuckDB oracle SQL twin computes identical tile ids."""
    import duckdb

    z = 10
    rng = random.Random(3)
    n = 1 << z
    rows = [(i, rng.randrange(n), rng.randrange(n)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        r.id: r.tid
        for r in tiling.with_pmtiles_tile_id(df, z, out="tid").select("id", "tid").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE __pts (id BIGINT, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO __pts VALUES (?,?,?)", rows)
    ctes, last, expr = tiling.pmtiles_tile_id_sql(z)
    sql = "WITH " + ",\n".join(ctes) + f" SELECT id, {expr} AS tid FROM {last}"
    for rid, tid in con.execute(sql).fetchall():
        assert got[rid] == tid


@pytest.mark.spark
def test_assign_tiles_zoom_bounds(spark):
    """The deepest supported zoom assigns exact tiles; a zoom outside
    [0, MAX_ZOOM] raises ValueError while the frame is built (z=24 used to
    fail inside the analyzer, a negative zoom with a shift error), from the
    assigners and from each tile-coordinate helper alike."""
    assert tiling.MAX_ZOOM == 23
    rng = random.Random(5)
    rows = [(i, rng.uniform(-179.99, 179.99), rng.uniform(-84.9, 84.9)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    z = tiling.MAX_ZOOM
    out = tiling.assign_tiles(df, z, with_local=False).select("lon", "lat", "x", "y", "tile_id")
    for r in out.collect():
        ex, ey = orc.tile_xy(r.lon, r.lat, z)
        assert (r.x, r.y) == (ex, ey), (r.lon, r.lat)
        assert r.tile_id == orc.pmtiles_tile_id(z, ex, ey)
    for bad in (24, -1):
        with pytest.raises(ValueError, match="zoom"):
            tiling.assign_tiles(df, bad)
    xy = df.select(F.lit(0).cast("long").alias("x"), F.lit(0).cast("long").alias("y"))
    with pytest.raises(ValueError, match="zoom"):
        tiling.with_hilbert_d(xy, 24)
    with pytest.raises(ValueError, match="zoom"):
        tiling.with_pmtiles_tile_id(xy, 24)
    for helper in (tiling.frac_tile_x, tiling.frac_tile_y, tiling.tile_x,
                   tiling.tile_y, tiling.tile_lon, tiling.tile_lat):
        for bad in (-1, 24):
            with pytest.raises(ValueError, match="zoom"):
                helper(F.col("lon"), bad)


def test_hilbert_hierarchy_property():
    """Parent position = d >> 2: the Hilbert curve is hierarchical, so a
    tile's ancestors on the curve follow from its position by shifts."""
    import random

    def xy2d(z, x, y):
        d, s = 0, (1 << (z - 1)) if z else 0
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s >>= 1
        return d

    rng = random.Random(11)
    for _ in range(500):
        z = rng.randint(1, 16)
        x, y = rng.randrange(1 << z), rng.randrange(1 << z)
        for q in range(z):
            assert xy2d(z, x, y) >> (2 * (z - q)) == xy2d(q, x >> (z - q), y >> (z - q))
