"""Planar overlay primitives: exact integer segment intersection at scale.

Two operators a vector-tile pipeline needs right after decode (reference
analog: mvt-wrangler walks per-feature geometry in tile-local integer space,
src/transform.rs:130-139; validity/overlay checks are the standard next step
before re-encoding or conflating layers):

  * ring_validity — OGC-style simplicity check per polygon ring: does any
    pair of NON-ADJACENT edges intersect (proper crossing like a bowtie, or
    an improper touch: a vertex landing on another edge / collinear
    overlap)? Tile simplifiers must drop or repair such rings before
    encoding — an invalid ring makes even-odd vs winding fills disagree.
  * segment_cross_join — crossings BETWEEN two edge sets (road×road grade
    crossings, road×boundary clips): the line/line case of the overlay
    family next to the engine's point-in-polygon and polygon intersects
    joins.

Exactness: everything is int64 orientation arithmetic on tile-local integer
coordinates — cross products of coordinate differences, never a float — so
Spark, DuckDB, and the brute-force pytest oracle agree bit-for-bit, with no
epsilon and no summation-order sensitivity. For |coord| <= 2^20 every
product fits in 2^41 (safe under ANSI).

Scale shape: the naive all-pairs test is O(k²) per ring (self check) or
O(n·m) across layers (cross join) — fatal for coastline-sized rings or a
100 TB edge corpus. Both operators instead bucket edges by the grid cells
their bbox covers (cell_size a power of two; a short segment covers <= 4
cells) and pair only within a cell via an equi-join — the same
prefilter-then-exact-refine shape as the engine's eps-grid cluster and
hamming-band joins. Pairs that meet in several shared cells are collapsed
by a distinct BEFORE the (cheap) exact test. No Python in the hot path:
edge explode, cell cover, join, orientation predicate and the final
aggregate are all whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session

# ---------------------------------------------------------------------------
# exact predicates (shared column expressions)
# ---------------------------------------------------------------------------


def _orient(ax: Column, ay: Column, bx: Column, by: Column,
            cx: Column, cy: Column) -> Column:
    """Sign-carrying 2x orientation area of (a, b, c): >0 ccw, <0 cw, =0
    collinear. Pure int64 (inputs are long tile-local coordinates)."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_seg(px: Column, py: Column, qx: Column, qy: Column,
            rx: Column, ry: Column) -> Column:
    """Given r collinear with segment pq: is r within pq's bbox?"""
    return ((F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx))
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy)))


def segment_flags(ax, ay, bx, by, cx, cy, dx, dy) -> tuple[Column, Column]:
    """(proper, touch) for segments AB vs CD.

    proper: the segments cross at a single interior point (all four
    orientation tests strictly disagree) — the bowtie case.
    touch:  they intersect but not properly — an endpoint lies ON the other
    segment, or the segments are collinear and overlap. For ring validity
    any NON-ADJACENT touch is as invalid as a crossing (OGC simplicity).
    Classic 4-orientation segment test (e.g. CLRS 33.1), kept in the exact
    integer domain.
    """
    d1 = _orient(ax, ay, bx, by, cx, cy)
    d2 = _orient(ax, ay, bx, by, dx, dy)
    d3 = _orient(cx, cy, dx, dy, ax, ay)
    d4 = _orient(cx, cy, dx, dy, bx, by)
    zero = F.lit(0).cast("long")
    proper = (((d1 > zero) & (d2 < zero)) | ((d1 < zero) & (d2 > zero))) & \
             (((d3 > zero) & (d4 < zero)) | ((d3 < zero) & (d4 > zero)))
    touch = (((d1 == zero) & _on_seg(ax, ay, bx, by, cx, cy))
             | ((d2 == zero) & _on_seg(ax, ay, bx, by, dx, dy))
             | ((d3 == zero) & _on_seg(cx, cy, dx, dy, ax, ay))
             | ((d4 == zero) & _on_seg(cx, cy, dx, dy, bx, by))) & ~proper
    return proper, touch


# DuckDB twin of segment_flags: same polynomials, same truth tables.
# {p}=prefix of the A segment cols, {q}=prefix of the C/D segment cols.
FLAGS_SQL = """
  ({p}bx - {p}ax)*({q}ay - {p}ay) - ({p}by - {p}ay)*({q}ax - {p}ax) AS d1,
  ({p}bx - {p}ax)*({q}by - {p}ay) - ({p}by - {p}ay)*({q}bx - {p}ax) AS d2,
  ({q}bx - {q}ax)*({p}ay - {q}ay) - ({q}by - {q}ay)*({p}ax - {q}ax) AS d3,
  ({q}bx - {q}ax)*({p}by - {q}ay) - ({q}by - {q}ay)*({p}bx - {q}ax) AS d4
"""

PROPER_SQL = ("((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0)) AND "
              "((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))")


def touch_sql(p: str, q: str) -> str:
    """SQL for the improper-touch flag (requires d1..d4 in scope)."""
    def on(sx, sy, ex, ey, rx, ry):
        return (f"(least({sx},{ex}) <= {rx} AND {rx} <= greatest({sx},{ex})"
                f" AND least({sy},{ey}) <= {ry} AND {ry} <= greatest({sy},{ey}))")
    return (f"NOT ({PROPER_SQL}) AND ("
            f"(d1 = 0 AND {on(p+'ax', p+'ay', p+'bx', p+'by', q+'ax', q+'ay')}) OR "
            f"(d2 = 0 AND {on(p+'ax', p+'ay', p+'bx', p+'by', q+'bx', q+'by')}) OR "
            f"(d3 = 0 AND {on(q+'ax', q+'ay', q+'bx', q+'by', p+'ax', p+'ay')}) OR "
            f"(d4 = 0 AND {on(q+'ax', q+'ay', q+'bx', q+'by', p+'bx', p+'by')}))")


# ---------------------------------------------------------------------------
# edge explode + grid-cell cover
# ---------------------------------------------------------------------------


def ring_edges(rings: DataFrame, key_col: str = "gkey",
               xs_col: str = "xs", ys_col: str = "ys") -> DataFrame:
    """Closed-ring edge rows (key, n_edges, eid, ax, ay, bx, by) from
    vertex-array columns; edge eid runs vertex i -> i+1 (wrapping)."""
    xs, ys = F.col(xs_col), F.col(ys_col)
    n = F.size(xs)
    idx = F.sequence(F.lit(0), n - 1)
    seg = F.transform(idx, lambda i: F.struct(
        F.element_at(xs, i + 1).cast("long").alias("ax"),
        F.element_at(ys, i + 1).cast("long").alias("ay"),
        F.element_at(xs, F.pmod(i + 1, n) + 1).cast("long").alias("bx"),
        F.element_at(ys, F.pmod(i + 1, n) + 1).cast("long").alias("by")))
    return (rings
            .select(F.col(key_col).alias("gkey"), n.cast("long").alias("n_edges"),
                    F.posexplode(seg).alias("eid", "e"))
            .select("gkey", "n_edges", F.col("eid").cast("long").alias("eid"),
                    "e.ax", "e.ay", "e.bx", "e.by"))


def with_cover_cells(edges: DataFrame, cell_size: int) -> DataFrame:
    """One row per grid cell the edge's bbox covers (superset of the true
    cover — duplicates collapse in the pair distinct). cell_size must be a
    power of two: the cell index is an arithmetic right shift — exact
    integer floor division, no float. Coordinates must be non-negative
    (the engine-wide MVT-space convention, see spatial_cluster module doc)."""
    if cell_size & (cell_size - 1) or cell_size <= 0:
        raise ValueError(f"cell_size must be a power of two, got {cell_size}")
    k = cell_size.bit_length() - 1
    lox = F.least("ax", "bx").cast("long")
    hix = F.greatest("ax", "bx").cast("long")
    loy = F.least("ay", "by").cast("long")
    hiy = F.greatest("ay", "by").cast("long")
    return (edges
            .withColumn("__cx", F.explode(F.sequence(
                F.shiftright(lox, k), F.shiftright(hix, k))))
            .withColumn("__cy", F.explode(F.sequence(
                F.shiftright(loy, k), F.shiftright(hiy, k)))))


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def ring_validity(rings: DataFrame, key_col: str = "gkey",
                  xs_col: str = "xs", ys_col: str = "ys",
                  cell_size: int = 512,
                  allpairs_max_edges: int = 32) -> DataFrame:
    """(gkey, n_edges, n_cross, n_touch, is_simple) per ring.

    n_cross counts unordered NON-ADJACENT edge pairs that properly cross;
    n_touch counts non-adjacent pairs that touch improperly. Adjacent edges
    (sharing a ring vertex, incl. the last->first wrap) always touch at the
    shared endpoint and are excluded — collinear-spike adjacency is out of
    scope (documented divergence from a full OGC IsSimple).

    Plan: edge explode -> bbox cell cover -> per-(ring, cell) self equi-join
    (eid_a < eid_b) -> reporting-cell filter -> exact integer flags -> one
    aggregation; rings with no candidate pairs rejoin with zero counts via
    a broadcast-friendly left join on the slim ring-key side.

    Two candidate arms, split by ring size (each emits every qualifying
    pair exactly once for well-formed input; the union feeds one distinct
    that collapses degenerate duplicate input rows):

      * rings with <= allpairs_max_edges edges (the overwhelmingly common
        case — building footprints, admin polygons) skip the grid
        entirely: a single self equi-join on the ring key with a codegen
        bbox-overlap filter. For a 4-8 edge ring the cell cover explode
        costs more rows than all of its non-adjacent pairs, so bucketing
        is pure overhead there.
      * larger rings (coastlines) keep the cell-bucketed join, where the
        O(k²) all-pairs shape would be fatal. Pairs meeting in several
        shared cells are pre-collapsed by the REPORTING-CELL filter: each
        pair survives only in the canonical minimum cell of the two bbox
        covers' (rectangular) intersection, i.e. (max of the two bbox-min
        xs) >> k per axis — the classic PBSM reference-point dedup (Patel
        & DeWitt, SIGMOD'96), a codegen predicate on columns already
        present — so the distinct shuffles one row per PAIR instead of
        one per shared cell.

    Both arms apply bbox/cell prefilters that are necessary conditions for
    intersection, so the exact flags decide the same pair set either way.
    """
    # pin the input rings: the plan references them FIVE times (both sides
    # of each arm's self-join + the ring-key spine), and per-branch column
    # pruning defeats exchange reuse, so an un-pinned ring-assembly input
    # (typically a scan + groupBy/collect_list) re-executed per reference
    # (5 parquet scans measured in q_ring_valid's plan). One materialized
    # pass of (key, xs, ys) rows; the 4 edge-explode re-derivations from
    # the pinned arrays are cheap codegen.
    rings = session.pin(rings)
    edges = ring_edges(rings, key_col, xs_col, ys_col)
    k = cell_size.bit_length() - 1
    nonadj = ((F.col("eid_a") < F.col("eid_b"))
              # non-adjacent only: consecutive eids or the wrap pair (0, n-1)
              & (F.col("eid_b") - F.col("eid_a") != 1)
              & ~((F.col("eid_a") == 0)
                  & (F.col("eid_b") == F.col("n_edges") - 1)))
    bbox_overlap = (
        (F.least("p_ax", "p_bx") <= F.greatest("q_ax", "q_bx"))
        & (F.least("q_ax", "q_bx") <= F.greatest("p_ax", "p_bx"))
        & (F.least("p_ay", "p_by") <= F.greatest("q_ay", "q_by"))
        & (F.least("q_ay", "q_by") <= F.greatest("p_ay", "p_by")))

    small = edges.filter(F.col("n_edges") <= allpairs_max_edges)
    sa = small.select("gkey", "n_edges",
                      F.col("eid").alias("eid_a"), F.col("ax").alias("p_ax"),
                      F.col("ay").alias("p_ay"), F.col("bx").alias("p_bx"),
                      F.col("by").alias("p_by"))
    sb = small.select("gkey",
                      F.col("eid").alias("eid_b"), F.col("ax").alias("q_ax"),
                      F.col("ay").alias("q_ay"), F.col("bx").alias("q_bx"),
                      F.col("by").alias("q_by"))
    small_pairs = (sa.join(sb, on="gkey")
                   .filter(nonadj).filter(bbox_overlap))

    big = edges.filter(F.col("n_edges") > allpairs_max_edges)
    cov = with_cover_cells(big, cell_size)
    a = cov.select("gkey", "n_edges", "__cx", "__cy",
                   F.col("eid").alias("eid_a"), F.col("ax").alias("p_ax"),
                   F.col("ay").alias("p_ay"), F.col("bx").alias("p_bx"),
                   F.col("by").alias("p_by"))
    b = cov.select("gkey", "__cx", "__cy",
                   F.col("eid").alias("eid_b"), F.col("ax").alias("q_ax"),
                   F.col("ay").alias("q_ay"), F.col("bx").alias("q_bx"),
                   F.col("by").alias("q_by"))
    rep_cx = F.shiftright(F.greatest(F.least("p_ax", "p_bx").cast("long"),
                                     F.least("q_ax", "q_bx").cast("long")), k)
    rep_cy = F.shiftright(F.greatest(F.least("p_ay", "p_by").cast("long"),
                                     F.least("q_ay", "q_by").cast("long")), k)
    big_pairs = (a.join(b, on=["gkey", "__cx", "__cy"])
                 .filter(nonadj)
                 # exactly-once: keep the pair only in its reporting cell
                 .filter((F.col("__cx") == rep_cx) & (F.col("__cy") == rep_cy))
                 .drop("__cx", "__cy"))
    pairs = small_pairs.unionByName(big_pairs).distinct()
    proper, touch = segment_flags(
        F.col("p_ax"), F.col("p_ay"), F.col("p_bx"), F.col("p_by"),
        F.col("q_ax"), F.col("q_ay"), F.col("q_bx"), F.col("q_by"))
    hits = (pairs
            .select("gkey", proper.cast("long").alias("pr"),
                    touch.cast("long").alias("to"))
            .groupBy("gkey")
            .agg(F.sum("pr").alias("n_cross"), F.sum("to").alias("n_touch")))
    keys = rings.select(F.col(key_col).alias("gkey"),
                        F.size(xs_col).cast("long").alias("n_edges"))
    out = (keys.join(hits, on="gkey", how="left")
           .select("gkey", "n_edges",
                   F.coalesce("n_cross", F.lit(0)).cast("long").alias("n_cross"),
                   F.coalesce("n_touch", F.lit(0)).cast("long").alias("n_touch")))
    return out.withColumn(
        "is_simple", (F.col("n_cross") + F.col("n_touch")) == 0)


def segment_cross_join(edges_a: DataFrame, edges_b: DataFrame,
                       cell_size: int = 256) -> DataFrame:
    """Proper crossings between two edge sets.

    Inputs: (id, ax, ay, bx, by) per side, non-negative integer coords.
    Output: one row per crossing pair (a_id, b_id) — the line/line overlay
    join. Cell-bucketed equi-join + exact integer test; touches (shared
    endpoints between layers) are NOT crossings and are excluded. Pairs
    meeting in several shared cells are pre-collapsed by the
    reporting-cell filter (see ring_validity) before the distinct, which
    then only has to dedup duplicate input edge rows — one row per pair
    crosses that shuffle instead of one per shared cell.
    """
    k = cell_size.bit_length() - 1
    ca = with_cover_cells(
        edges_a.select(F.col("id").alias("a_id"),
                       F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")),
        cell_size).withColumnsRenamed(
            {"ax": "p_ax", "ay": "p_ay", "bx": "p_bx", "by": "p_by"})
    cb = with_cover_cells(
        edges_b.select(F.col("id").alias("b_id"),
                       F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")),
        cell_size).withColumnsRenamed(
            {"ax": "q_ax", "ay": "q_ay", "bx": "q_bx", "by": "q_by"})
    rep_cx = F.shiftright(F.greatest(F.least("p_ax", "p_bx").cast("long"),
                                     F.least("q_ax", "q_bx").cast("long")), k)
    rep_cy = F.shiftright(F.greatest(F.least("p_ay", "p_by").cast("long"),
                                     F.least("q_ay", "q_by").cast("long")), k)
    pairs = (ca.join(cb, on=["__cx", "__cy"])
             # reporting-cell filter (see ring_validity), then distinct to
             # collapse duplicate input edge rows — its input is now one row
             # per pair instead of one per shared cell
             .filter((F.col("__cx") == rep_cx) & (F.col("__cy") == rep_cy))
             .drop("__cx", "__cy").distinct())
    proper, _ = segment_flags(
        F.col("p_ax"), F.col("p_ay"), F.col("p_bx"), F.col("p_by"),
        F.col("q_ax"), F.col("q_ay"), F.col("q_bx"), F.col("q_by"))
    return pairs.filter(proper).select("a_id", "b_id")
