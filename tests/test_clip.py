"""Sutherland–Hodgman clip: hand geometry + invariants + operator plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from mvt_wrangler_spark.operators import clip as CL

BOX = (0.0, 0.0, 10.0, 10.0)


def _area2(x, y):
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    return abs(float((x * yn - xn * y).sum()))


def test_clip_fully_inside_is_identity():
    x = np.array([2.0, 8.0, 8.0, 2.0])
    y = np.array([2.0, 2.0, 8.0, 8.0])
    cx, cy = CL.clip_ring_np(x, y, *BOX)
    # SH rotates the ring (emits successors) but preserves the vertex set
    assert sorted(zip(cx, cy)) == sorted(zip(x, y))


def test_clip_fully_outside_vanishes():
    x = np.array([20.0, 30.0, 25.0])
    y = np.array([20.0, 20.0, 30.0])
    cx, cy = CL.clip_ring_np(x, y, *BOX)
    assert len(cx) == 0


def test_clip_corner_overlap_area():
    # square [5,15]^2 clipped to [0,10]^2 -> square [5,10]^2, area 25
    x = np.array([5.0, 15.0, 15.0, 5.0])
    y = np.array([5.0, 5.0, 15.0, 15.0])
    cx, cy = CL.clip_ring_np(x, y, *BOX)
    assert len(cx) == 4 and _area2(cx, cy) == 2 * 25.0
    assert cx.min() >= 5.0 and cx.max() <= 10.0
    assert cy.min() >= 5.0 and cy.max() <= 10.0


def test_clip_triangle_through_box():
    # wide triangle crossing both vertical edges
    x = np.array([-10.0, 20.0, 5.0])
    y = np.array([2.0, 2.0, 8.0])
    cx, cy = CL.clip_ring_np(x, y, *BOX)
    assert len(cx) >= 5
    assert cx.min() >= 0.0 and cx.max() <= 10.0
    # clipped area must be smaller than the original but positive
    assert 0 < _area2(cx, cy) < _area2(x, y)


def test_clip_area_never_exceeds_box_or_input():
    rng = np.random.RandomState(6)
    for _ in range(100):
        n = rng.randint(3, 10)
        x = rng.uniform(-15, 25, n)
        y = rng.uniform(-15, 25, n)
        cx, cy = CL.clip_ring_np(x, y, *BOX)
        if len(cx) >= 3:
            # note: self-intersecting inputs make signed areas odd, but the
            # clip output always stays inside the box
            assert cx.min() >= -1e-9 and cx.max() <= 10 + 1e-9
            assert cy.min() >= -1e-9 and cy.max() <= 10 + 1e-9


def test_snapped_area2_integer():
    x = np.array([0.26, 9.74, 9.74, 0.26])
    y = np.array([0.26, 0.26, 9.74, 9.74])
    n, a2 = CL.snapped_area2(x, y, snap=4)
    assert n == 4 and isinstance(a2, int)
    # floor(0.26*4)=1, floor(9.74*4)=38 -> side 37 quarter-pixels
    assert a2 == 2 * 37 * 37


@pytest.mark.spark
def test_clip_rings_operator(spark):
    rows = [
        (1, [2.0, 8.0, 8.0, 2.0], [2.0, 2.0, 8.0, 8.0]),     # inside
        (2, [20.0, 30.0, 25.0], [20.0, 20.0, 30.0]),          # outside
        (3, [5.0, 15.0, 15.0, 5.0], [5.0, 5.0, 15.0, 15.0]),  # corner
    ]
    df = spark.createDataFrame(
        rows, "gkey long, xs array<double>, ys array<double>")
    got = {r.gkey: (r.n_out, r.area2q) for r in
           CL.clip_rings(df, *BOX, snap=16).collect()}
    assert set(got) == {1, 3}
    # ring 1: side 6.0 -> snapped side 96 subpixels, 2A = 2*96*96
    assert got[1] == (4, 2 * 96 * 96)
    assert got[3][0] == 4 and got[3][1] == 2 * 80 * 80  # side 5.0 -> 80


@pytest.mark.spark
def test_overzoom_children_reconstruct_parent(spark):
    """2x box-downsampling an overzoomed child recovers the parent quadrant
    exactly (nearest-neighbor up then 2x2 mean down is the identity)."""
    import pandas as pd

    from mvt_wrangler_spark.operators.overzoom import overzoom
    from mvt_wrangler_spark.sources import images as I

    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a"], "bytes": [I.encode(px, "rawz")],
                      "fmt": ["rawz"], "w": [16], "h": [16]}))
    out = {r.child: I.decode(bytes(r.cbytes), r.cfmt, r.cw, r.ch)
           for r in overzoom(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    for child, im in out.items():
        qy, qx = divmod(child, 2)
        quad = px[qy * 8:(qy + 1) * 8, qx * 8:(qx + 1) * 8, :]
        assert im.shape == (16, 16, 3)
        down = im.reshape(8, 2, 8, 2, 3).astype(np.int64).sum(axis=(1, 3)) // 4
        assert (down == quad).all()
        # child pixel sums are exactly 4x the quadrant sums
        assert im.astype(np.int64).sum() == 4 * quad.astype(np.int64).sum()


@pytest.mark.spark
def test_clip_segments_liang_barsky(spark):
    rows = [
        # fully inside
        (1, 1, 2.0, 2.0, 8.0, 8.0),
        # crosses left edge
        (2, 1, -5.0, 5.0, 5.0, 5.0),
        # fully outside (above)
        (3, 1, 2.0, 20.0, 8.0, 25.0),
        # corner-to-corner diagonal through the box
        (4, 1, -10.0, -10.0, 20.0, 20.0),
        # vertical segment on x=5 crossing top edge
        (5, 1, 5.0, 5.0, 5.0, 15.0),
        # degenerate: outside-parallel (y constant below box)
        (6, 1, -5.0, -2.0, 15.0, -2.0),
    ]
    df = spark.createDataFrame(
        rows, "gkey long, seq long, x1 double, y1 double, x2 double, y2 double")
    from mvt_wrangler_spark.operators.clip import clip_segments

    got = {r.gkey: (r.qx1, r.qy1, r.qx2, r.qy2) for r in
           clip_segments(df, 0.0, 0.0, 10.0, 10.0, snap=2).collect()}
    assert got[1] == (4, 4, 16, 16)
    assert got[2] == (0, 10, 10, 10)
    assert 3 not in got and 6 not in got
    assert got[4] == (0, 0, 20, 20)
    assert got[5] == (10, 10, 10, 20)
    # the plan must stay Python-free: codegen filter + project only
    plan = clip_segments(df, 0.0, 0.0, 10.0, 10.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
