"""geoms_intersect_polygon vs a slow per-row reference implementation."""

from __future__ import annotations

import numpy as np
import pytest

from mvt_wrangler_spark.functions import geometry as G


def _brute_row(gtype, xs, ys, poly: G.Polygon) -> bool:
    xs = np.asarray(xs, float)
    ys = np.asarray(ys, float)
    if G.points_in_polygon(xs, ys, poly).any():
        return True
    verts = list(zip(xs, ys))
    segs = list(zip(verts, verts[1:]))
    if gtype == "Polygon" and len(verts) >= 3:
        segs.append((verts[-1], verts[0]))
    rings = [poly.exterior] + poly.holes
    for (a, b) in segs:
        for ring in rings:
            for i in range(len(ring) - 1):
                if G.segments_cross(np.array([a[0]]), np.array([a[1]]),
                                    np.array([b[0]]), np.array([b[1]]),
                                    ring[i, 0], ring[i, 1],
                                    ring[i + 1, 0], ring[i + 1, 1])[0]:
                    return True
    if gtype == "Polygon" and len(verts) >= 3:
        ring = G._close_ring(np.stack([xs, ys], axis=1))
        fpx, fpy = poly.exterior[:-1, 0], poly.exterior[:-1, 1]
        if G.points_in_ring(fpx, fpy, ring).any():
            return True
    return False


def _rand_batch(n, rng):
    gtypes, xsl, ysl = [], [], []
    for _ in range(n):
        k = rng.integers(0, 3)
        cx, cy = rng.uniform(-30, 30), rng.uniform(-30, 30)
        if k == 0:
            gtypes.append("Point")
            xsl.append([cx])
            ysl.append([cy])
        elif k == 1:
            m = int(rng.integers(2, 5))
            gtypes.append("LineString")
            xsl.append(list(cx + rng.uniform(-15, 15, m)))
            ysl.append(list(cy + rng.uniform(-15, 15, m)))
        else:
            m = int(rng.integers(3, 6))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            r = rng.uniform(1, 12)
            gtypes.append("Polygon")
            xsl.append(list(cx + r * np.cos(ang)))
            ysl.append(list(cy + r * np.sin(ang)))
    return np.array(gtypes, dtype=object), np.array(xsl, dtype=object), np.array(ysl, dtype=object)


def test_intersects_kernel_matches_bruteforce():
    rng = np.random.default_rng(42)
    hexv = np.array([[10 * np.cos(a) + 2, 10 * np.sin(a) - 1]
                     for a in np.linspace(0.2, 2 * np.pi + 0.2, 6, endpoint=False)])
    poly = G.Polygon(hexv)
    gtypes, xsl, ysl = _rand_batch(400, rng)
    got = G.geoms_intersect_polygon(gtypes, xsl, ysl, poly)
    for i in range(len(gtypes)):
        assert got[i] == _brute_row(gtypes[i], xsl[i], ysl[i], poly), \
            (i, gtypes[i], xsl[i], ysl[i])


def test_feature_polygon_swallows_filter():
    """A huge triangle containing the whole filter polygon must intersect
    even though no vertices or edges touch."""
    poly = G.Polygon(np.array([[0, 0], [2, 0], [2, 2], [0, 2]]))
    gtypes = np.array(["Polygon", "Polygon"], dtype=object)
    xsl = np.array([[-50, 50, 0], [10, 12, 11]], dtype=object)
    ysl = np.array([[-50, -50, 80], [10, 10, 12]], dtype=object)
    got = G.geoms_intersect_polygon(gtypes, xsl, ysl, poly)
    assert got[0] and not got[1]


def test_polygon_with_hole_linestring():
    """A segment entirely inside a hole does not intersect; one crossing the
    hole boundary does."""
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]])
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]])
    poly = G.Polygon(outer, [hole])
    gtypes = np.array(["LineString", "LineString"], dtype=object)
    xsl = np.array([[4.5, 5.5], [4.5, 7.0]], dtype=object)
    ysl = np.array([[5.0, 5.0], [5.0, 5.0]], dtype=object)
    got = G.geoms_intersect_polygon(gtypes, xsl, ysl, poly)
    assert not got[0] and got[1]


def _segments_intersect(a1, a2, b1, b2) -> bool:
    """Proper/improper 2-segment intersection (orientation test)."""

    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    def on_seg(p, q, r):
        return min(p[0], q[0]) - 1e-12 <= r[0] <= max(p[0], q[0]) + 1e-12 and \
               min(p[1], q[1]) - 1e-12 <= r[1] <= max(p[1], q[1]) + 1e-12

    o1, o2 = orient(a1, a2, b1), orient(a1, a2, b2)
    o3, o4 = orient(b1, b2, a1), orient(b1, b2, a2)
    if ((o1 > 0) != (o2 > 0) and o1 != 0 and o2 != 0) and ((o3 > 0) != (o4 > 0) and o3 != 0 and o4 != 0):
        return True
    for (p, q, r, o) in ((a1, a2, b1, o1), (a1, a2, b2, o2), (b1, b2, a1, o3), (b1, b2, a2, o4)):
        if o == 0 and on_seg(p, q, r):
            return True
    return False


def _brute_intersects(gtype, rings, poly):
    """Independent scalar reference: feature (list of rings) vs filter
    polygon-with-holes `intersects` — per-vertex / per-edge Python loops
    using the orientation-based _segments_intersect (a different primitive
    than the kernel's sign-product segments_cross)."""
    import numpy as np

    from mvt_wrangler_spark.functions import geometry as G

    is_poly = gtype in ("Polygon", "MultiPolygon")
    # (1) any feature vertex inside the filter polygon
    for ring in rings:
        for (x, y) in ring:
            if G.points_in_polygon(np.array([x]), np.array([y]), poly)[0]:
                return True
    # (2) any feature boundary edge crosses any filter ring edge
    for ring in rings:
        edges = [(ring[i], ring[i + 1]) for i in range(len(ring) - 1)]
        if is_poly and len(ring) >= 3:
            edges.append((ring[-1], ring[0]))
        for a, b in edges:
            for pring in [poly.exterior] + poly.holes:
                for i in range(len(pring) - 1):
                    if _segments_intersect(np.array(a), np.array(b),
                                           pring[i], pring[i + 1]):
                        return True
    # (3) filter exterior vertex inside the feature (even-odd over ALL rings)
    if is_poly:
        for (px, py) in poly.exterior[:-1]:
            crossings = 0
            for ring in rings:
                closed = list(ring) + [ring[0]]
                for i in range(len(closed) - 1):
                    (x1, y1), (x2, y2) = closed[i], closed[i + 1]
                    if (y1 > py) != (y2 > py):
                        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
                        if px < xint:
                            crossings += 1
            if crossings % 2 == 1:
                return True
    return False


def test_holed_feature_polygons_vs_bruteforce():
    """Holed/multi-part FEATURE polygons (ring_lens_list) against a holed
    filter polygon: kernel == independent scalar brute force, including the
    hole-specific cases (feature in filter hole, filter in feature hole)."""
    import numpy as np

    from mvt_wrangler_spark.functions import geometry as G

    # filter: 20x20 shell with a 8..12 hole
    filt = G.Polygon(
        np.array([[0, 0], [20, 0], [20, 20], [0, 20]], float),
        [np.array([[8, 8], [12, 8], [12, 12], [8, 12]], float)],
    )

    def sq(cx, cy, r):
        return [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]

    cases = [
        # fully inside the filter hole -> NOT intersecting
        ("Polygon", [sq(10, 10, 1)], False),
        # inside the shell -> intersecting
        ("Polygon", [sq(4, 4, 1)], True),
        # straddles the filter hole's edge -> intersecting
        ("Polygon", [sq(8, 10, 1.5)], True),
        # holed feature whose HOLE contains the whole filter -> the shell
        # still contains it? feature shell 0..40 with hole 1..19 covering the
        # filter minus boundary: filter exterior vertex (0,0) lies ON the
        # hole boundary edge -> boundary touch counts as intersecting
        ("Polygon", [sq(20, 10, 40), sq(10, 10, 9)], True),
        # feature hole strictly containing the filter: no contact at all
        ("Polygon", [sq(10, 10, 100), sq(10, 10, 50)], False),
        # multipolygon: one far part, one inside the shell
        ("MultiPolygon", [sq(100, 100, 1), sq(4, 4, 1)], True),
        # multipolygon: far part + part inside the filter hole
        ("MultiPolygon", [sq(100, 100, 1), sq(10, 10, 1)], False),
        # multilinestring crossing the shell boundary
        ("MultiLineString", [[(-5, 5), (5, 5)], [(100, 100), (101, 101)]], True),
        ("MultiLineString", [[(9, 10), (11, 10)]], False),  # inside the hole
        ("MultiPoint", [[(4, 4)], [(100, 100)]], True),
        ("MultiPoint", [[(10, 10)], [(100, 100)]], False),  # in the hole
    ]
    gtypes = np.array([c[0] for c in cases], object)
    xs = np.array([[p[0] for r in c[1] for p in r] for c in cases], object)
    ys = np.array([[p[1] for r in c[1] for p in r] for c in cases], object)
    rls = np.array([[len(r) for r in c[1]] for c in cases], object)
    got = G.geoms_intersect_polygon(gtypes, xs, ys, filt, ring_lens_list=rls)
    for i, (gt, rings, want) in enumerate(cases):
        brute = _brute_intersects(gt, rings, filt)
        assert brute == want, f"case {i}: brute disagrees with the stated truth"
        assert bool(got[i]) == want, f"case {i}: kernel {got[i]} != {want}"

    # randomized sweep: kernel == brute force on random holed features
    rng = np.random.default_rng(11)
    r_gt, r_xs, r_ys, r_rl, r_rings = [], [], [], [], []
    for _ in range(120):
        nrings = rng.integers(1, 4)
        gt = rng.choice(["Polygon", "MultiPolygon", "MultiLineString"])
        rings = []
        for _ in range(nrings):
            cx, cy = rng.uniform(-5, 25, 2)
            r = rng.uniform(0.5, 6)
            k = int(rng.integers(3, 6))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rings.append([(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang])
        r_gt.append(gt)
        r_rings.append(rings)
        r_xs.append([p[0] for ring in rings for p in ring])
        r_ys.append([p[1] for ring in rings for p in ring])
        r_rl.append([len(ring) for ring in rings])
    got = G.geoms_intersect_polygon(
        np.array(r_gt, object), np.array(r_xs, object), np.array(r_ys, object),
        filt, ring_lens_list=np.array(r_rl, object))
    for i in range(len(r_gt)):
        assert bool(got[i]) == _brute_intersects(r_gt[i], r_rings[i], filt), i

    # single-ring path (ring_lens_list=None) unchanged vs ring path
    single = [c for c in cases if len(c[1]) == 1 and c[0] == "Polygon"]
    gtypes1 = np.array([c[0] for c in single], object)
    xs1 = np.array([[p[0] for p in c[1][0]] for c in single], object)
    ys1 = np.array([[p[1] for p in c[1][0]] for c in single], object)
    a = G.geoms_intersect_polygon(gtypes1, xs1, ys1, filt)
    b = G.geoms_intersect_polygon(gtypes1, xs1, ys1, filt,
                                  ring_lens_list=np.array(
                                      [[len(c[1][0])] for c in single], object))
    assert np.array_equal(a, b)


@pytest.mark.spark
def test_intersects_join_holed_features_e2e(spark):
    """Holed/multi-part feature polygons flow archive -> decode (ring_lens)
    -> broadcast_intersects_join, matching the brute-force oracle per row."""
    import numpy as np
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import geometry as G
    from mvt_wrangler_spark.operators import tile_encode as TE
    from mvt_wrangler_spark.operators.joins import broadcast_intersects_join

    def sq(cx, cy, r):
        return [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]

    feats = [
        (10, "Polygon", [sq(10, 10, 1)]),                  # in the filter hole
        (11, "Polygon", [sq(4, 4, 1)]),                    # in the shell
        (12, "Polygon", [sq(20, 10, 40), sq(10, 10, 9)]),  # holed feature
        (13, "MultiPolygon", [sq(100, 100, 1), sq(4, 4, 1)]),
        (14, "MultiLineString", [[(-5.0, 5.0), (5.0, 5.0)], [(100.0, 100.0), (101.0, 101.0)]]),
        (15, "MultiPoint", [[(10.0, 10.0)], [(100.0, 100.0)]]),
    ]
    rows = [
        (5, 0, 0, 1, str(fid), "shapes", {}, gt,
         [[float(p[0]) for p in r] for r in rings],
         [[float(p[1]) for p in r] for r in rings])
        for fid, gt, rings in feats
    ]
    df = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, tile_id bigint, image_id string, "
              "layer string, tags map<string,string>, geom_type string, "
              "xss array<array<double>>, yss array<array<double>>")
    decoded = TE.decode_tiles(TE.encode_tiles(df))

    filt = G.Polygon(
        np.array([[0, 0], [20, 0], [20, 20], [0, 20]], float),
        [np.array([[8, 8], [12, 8], [12, 12], [8, 12]], float)],
    )
    joined = broadcast_intersects_join(
        spark, decoded, [("filt", filt)], xs_col="pxs", ys_col="pys",
        ring_lens_col="ring_lens")
    got = {r.feature_id for r in joined.collect()}
    want = {fid for fid, gt, rings in feats if _brute_intersects(gt, rings, filt)}
    assert got == want == {11, 12, 13, 14}
