"""Vectorized numpy geometry kernels (no shapely in this environment).

Plays the role geo/rstar play in the reference:
  - exact intersects refinement:   /root/reference/src/transform.rs:140-143
  - R-tree bbox prefilter:         /root/reference/src/filtering/data.rs:189-230

All kernels are batch-oriented (N points x one polygon in pure numpy) and run
inside Arrow-batched pandas UDFs — never per-row Python. Polygons are
(ring, holes) vertex arrays in lon/lat degrees.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class Polygon:
    """One polygon: exterior ring (closed or open, both accepted) + holes."""

    exterior: np.ndarray  # (M, 2) float64 lon/lat
    holes: list[np.ndarray] = field(default_factory=list)

    def __post_init__(self):
        self.exterior = _close_ring(np.asarray(self.exterior, dtype=np.float64))
        self.holes = [_close_ring(np.asarray(h, dtype=np.float64)) for h in self.holes]
        allv = np.vstack([self.exterior] + self.holes)
        self.minx, self.miny = allv.min(axis=0)
        self.maxx, self.maxy = allv.max(axis=0)

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (self.minx, self.miny, self.maxx, self.maxy)


def _close_ring(r: np.ndarray) -> np.ndarray:
    if len(r) and not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    return r


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, boundary-inclusive-ish, vectorized N x M.

    Crossing-number test: for each edge (x1,y1)->(x2,y2), a rightward ray
    from (px,py) crosses iff (y1>py) != (y2>py) and px < x-intercept.
    """
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / np.where(y2 != y1, y2 - y1, 1.0)
    crossings = (cond & (px < xint)).sum(axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: Polygon) -> np.ndarray:
    """Point-in-polygon with holes; bbox pre-cull first (cheap reject)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    cand = (px >= poly.minx) & (px <= poly.maxx) & (py >= poly.miny) & (py <= poly.maxy)
    if not cand.any():
        return out
    inside = points_in_ring(px[cand], py[cand], poly.exterior)
    for hole in poly.holes:
        inside &= ~points_in_ring(px[cand], py[cand], hole)
    out[cand] = inside
    return out


def segments_cross(ax, ay, bx, by, cx, cy, dx, dy):
    """Inclusive segment-intersection predicate, vectorized over (A,B) arrays
    vs one (C,D) edge (scalars or arrays): orientation sign products
    d1*d2 <= 0 AND d3*d4 <= 0. This EXACT formula is what the SQL oracle
    states (sources/points.py seg_cross_sql), so both engines flip together.
    Collinear-disjoint segments over-approximate to True — a documented
    closed-predicate looseness that cannot occur for non-degenerate floats.
    """
    d1 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
    d2 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
    d3 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    d4 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
    return (d1 * d2 <= 0) & (d3 * d4 <= 0)


def geoms_intersect_polygon(gtypes: np.ndarray, xs_list, ys_list,
                            poly: Polygon, ring_lens_list=None) -> np.ndarray:
    """Exact geometry x polygon `intersects` for a batch of variable-length
    features (Point / LineString / Polygon vertex arrays, plus — when
    ring_lens_list is given — holed polygons and Multi* parts) — the general
    form of the reference's feature_geom.intersects(filter_geom)
    (/root/reference/src/transform.rs:130-143).

    ring_lens_list[i] splits feature i's flat xs/ys into rings/parts (the
    decode_tiles contract: exterior first, then holes / further parts);
    None means one ring per feature (the round-2 behavior, unchanged).

    True iff: any feature vertex inside the filter polygon, OR any feature
    BOUNDARY segment (per ring — segments never span ring boundaries)
    crosses any filter ring edge, OR (polygon-family features) any filter
    exterior vertex lands inside the feature by the even-odd test over ALL
    the feature's rings — which makes holes first-class: a filter polygon
    entirely inside a feature's hole counts OUTSIDE (even crossings), so no
    false hit, while one inside the shell is caught. Fully vectorized:
    vertices flattened once, per-row aggregation via reduceat/bincount; the
    loops run over filter ring edges (a handful), never over rows.
    """
    n = len(gtypes)
    if n == 0:
        return np.zeros(0, dtype=bool)
    lens = np.fromiter(map(len, xs_list), np.int64, n)
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    fx = np.concatenate([np.asarray(v, np.float64) for v in xs_list])
    fy = np.concatenate([np.asarray(v, np.float64) for v in ys_list])
    hit = np.zeros(n, dtype=bool)

    # ring structure: ring -> feature map + per-ring vertex offsets
    if ring_lens_list is None:
        ring_feat = np.arange(n)
        rlens = lens
    else:
        nr = np.fromiter(map(len, ring_lens_list), np.int64, n)
        ring_feat = np.repeat(np.arange(n), nr)
        rlens = np.fromiter((rl for rls in ring_lens_list for rl in rls),
                            np.int64, int(nr.sum()))
        if int(rlens.sum()) != len(fx):
            raise ValueError("ring_lens must sum to the vertex count per feature")
    roffs = np.zeros(len(rlens) + 1, np.int64)
    np.cumsum(rlens, out=roffs[1:])

    # (1) any feature vertex inside the filter polygon
    vin = points_in_polygon(fx, fy, poly)
    hit |= np.add.reduceat(vin, offs[:-1]) > 0 if len(fx) else False

    # (2) feature segments: consecutive vertices within each RING + closing
    # edge per polygon-family ring
    is_poly = np.asarray([t in ("Polygon", "MultiPolygon") for t in gtypes])
    seg_mask = np.ones(len(fx), dtype=bool)
    seg_mask[roffs[1:] - 1] = False  # last vertex of each ring starts no segment
    idx = np.nonzero(seg_mask)[0]
    close_rings = np.nonzero(is_poly[ring_feat] & (rlens >= 3))[0]
    ax = np.concatenate([fx[idx], fx[roffs[1:][close_rings] - 1]])
    ay = np.concatenate([fy[idx], fy[roffs[1:][close_rings] - 1]])
    bx = np.concatenate([fx[idx + 1], fx[roffs[:-1][close_rings]]])
    by = np.concatenate([fy[idx + 1], fy[roffs[:-1][close_rings]]])
    seg_row = np.concatenate([
        np.repeat(ring_feat, np.maximum(rlens - 1, 0)), ring_feat[close_rings]])

    if len(ax):
        cross = np.zeros(len(ax), dtype=bool)
        for ring in [poly.exterior] + poly.holes:
            for i in range(len(ring) - 1):
                cross |= segments_cross(ax, ay, bx, by,
                                        ring[i, 0], ring[i, 1],
                                        ring[i + 1, 0], ring[i + 1, 1])
        hit |= np.bincount(seg_row, weights=cross, minlength=n) > 0

        # (3) polygon features that fully contain the filter polygon: even-odd
        # test of each filter exterior vertex against the feature's ring
        # (consecutive + closing segments of that row)
        if is_poly.any():
            poly_seg = is_poly[seg_row]
            pax, pay = ax[poly_seg], ay[poly_seg]
            pbx, pby = bx[poly_seg], by[poly_seg]
            prow = seg_row[poly_seg]
            inside_any = np.zeros(n, dtype=bool)
            for px_, py_ in poly.exterior[:-1]:
                cond = (pay > py_) != (pby > py_)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = pax + (py_ - pay) * (pbx - pax) / np.where(
                        pby != pay, pby - pay, 1.0)
                crossings = np.bincount(prow, weights=cond & (px_ < xint),
                                        minlength=n)
                inside_any |= (crossings.astype(np.int64) % 2) == 1
            hit |= inside_any & is_poly
    return hit


class GridIndex:
    """STRtree-lite: uniform grid over bboxes (the R-tree prefilter analog).

    Built driver-side over the (small) filter/admin polygon set, shipped to
    executors inside the broadcast; query returns candidate indices whose
    bbox overlaps the probe bbox — refined by the exact kernels above.
    """

    def __init__(self, bboxes: list[tuple[float, float, float, float]], nx: int = 64, ny: int = 32):
        self.bboxes = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
        self.nx, self.ny = nx, ny
        self.cells: dict[tuple[int, int], list[int]] = {}
        for i, (x0, y0, x1, y1) in enumerate(self.bboxes):
            for cx in range(self._cx(x0), self._cx(x1) + 1):
                for cy in range(self._cy(y0), self._cy(y1) + 1):
                    self.cells.setdefault((cx, cy), []).append(i)

    def _cx(self, x: float) -> int:
        return int(np.clip((x + 180.0) / 360.0 * self.nx, 0, self.nx - 1))

    def _cy(self, y: float) -> int:
        return int(np.clip((y + 90.0) / 180.0 * self.ny, 0, self.ny - 1))

    def query(self, x0: float, y0: float, x1: float, y1: float) -> list[int]:
        seen: set[int] = set()
        for cx in range(self._cx(x0), self._cx(x1) + 1):
            for cy in range(self._cy(y0), self._cy(y1) + 1):
                seen.update(self.cells.get((cx, cy), ()))
        b = self.bboxes
        return [i for i in sorted(seen)
                if not (x1 < b[i, 0] or b[i, 2] < x0 or y1 < b[i, 1] or b[i, 3] < y0)]


def parse_geojson_geometry(geom: dict) -> list[Polygon]:
    """GeoJSON Polygon/MultiPolygon -> list of Polygon (other types: points
    and lines are not valid filter masks for point data; rejected)."""
    t = geom.get("type")
    if t == "Polygon":
        rings = geom["coordinates"]
        return [Polygon(np.asarray(rings[0]), [np.asarray(h) for h in rings[1:]])]
    if t == "MultiPolygon":
        out = []
        for rings in geom["coordinates"]:
            out.append(Polygon(np.asarray(rings[0]), [np.asarray(h) for h in rings[1:]]))
        return out
    raise ValueError(f"Unsupported filter geometry type: {t}")
