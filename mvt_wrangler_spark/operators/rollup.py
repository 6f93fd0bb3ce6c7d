"""Tile-pyramid rollup + skew-salted tile aggregation.

The reference has no aggregation over data values (SURVEY §2.4); the graft
adds per-tile stats and the z-1..0 pyramid (north rule). Parent coords are
x>>1, y>>1 — so level z-1 derives from level z by one groupBy whose input is
already the (much smaller) aggregated level z: total work is geometric in z.

Skew: hot metro tiles concentrate rows on one shuffle key at the BASE level
only. `tile_stats` therefore pre-aggregates with a salt (two-phase agg):
partial per (tile, salt) — map-side combine keeps it narrow — then the final
combine over n_salt rows per tile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session


def tile_stats(df: DataFrame, n_salt: int = 0, salt_col: str = "image_id",
               extra_aggs: dict | None = None) -> DataFrame:
    """Per-(z,x,y) row count + byte sizes; optionally two-phase salted.

    With n_salt>0: groupBy(z,x,y,salt) partial -> groupBy(z,x,y) combine.
    Counts/sums are algebraic, so the two phases compose exactly.
    """
    base_aggs = {
        "n_rows": F.count(F.lit(1)),
        "bytes_in": (F.sum(F.coalesce(F.length("bytes"), F.lit(0)))
                     if "bytes" in df.columns else F.sum(F.lit(0)).cast("long")),
    }
    if extra_aggs:
        base_aggs.update(extra_aggs)
    if n_salt <= 1:
        return df.groupBy("z", "x", "y").agg(*[v.alias(k) for k, v in base_aggs.items()])
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salt)))
    partial = salted.groupBy("z", "x", "y", "__salt").agg(
        *[v.alias(f"__p_{k}") for k, v in base_aggs.items()]
    )
    return partial.groupBy("z", "x", "y").agg(
        F.sum("__p_n_rows").alias("n_rows"),
        F.sum("__p_bytes_in").alias("bytes_in"),
        *[F.sum(f"__p_{k}").alias(k) for k in base_aggs if k not in ("n_rows", "bytes_in")],
    )


def pyramid_rollup(base: DataFrame, base_z: int, min_z: int = 0) -> DataFrame:
    """Roll per-tile stats from base_z up to min_z; returns all levels.

    base must have (z, x, y, n_rows[, bytes_in]), one row per tile; level
    z' aggregates base with x >> (base_z - z'), y >> (base_z - z') —
    integer sums are associative, so grouping base straight to each level
    equals the level-by-level chain bit for bit.

    Every level, base_z included (a shift of 0 over one row per tile is the
    identity), comes from ONE explode + ONE aggregation over base, so the
    plan reads base once and builds with no Spark job. The naive
    chain-then-union plan re-executed the expensive base aggregation once
    PER LEVEL (level k's union branch embeds k cascaded groupBys all the
    way down to the raw scan — 11 scans / 66 exchanges in the zoom-10
    contract query's physical plan), and a base-plus-coarser-levels union
    needs base pinned and writes base's partitions as they are, one file
    per shuffle partition. Here map-side combine collapses each partition
    to its distinct keys before the one exchange, and the output is at most
    4^base_z * 4/3 rows whatever the corpus size, so AQE coalesces it to a
    few partitions (one file at small sizes) whatever
    spark.sql.shuffle.partitions is. Raises ValueError unless
    0 <= min_z <= base_z.
    """
    if not 0 <= min_z <= base_z:
        raise ValueError(f"need 0 <= min_z <= base_z, got min_z={min_z} base_z={base_z}")
    agg_cols = [c for c in base.columns if c not in ("z", "x", "y")]
    # one explode + ONE groupBy instead of a groupBy + union branch per
    # level (A/B-verified exceptAll-equal at sf0.1): one Exchange instead of
    # (base_z - min_z), and ~4 DataFrame calls instead of 4 per level, which
    # at base_z=10 removed ~1 s of driver-side plan construction from every
    # invocation (per-call py4j/analyzer overhead is flat and adds up in
    # loops).
    zlist = list(range(base_z, min_z - 1, -1))
    return (base.select(F.explode(F.array(*[F.lit(z).cast("int") for z in zlist]))
                        .alias("__z2"), "x", "y", *agg_cols)
            .select(F.col("__z2").alias("z"),
                    F.expr(f"shiftright(x, {base_z} - __z2)").alias("x"),
                    F.expr(f"shiftright(y, {base_z} - __z2)").alias("y"),
                    *agg_cols)
            .groupBy("z", "x", "y")
            .agg(*[F.sum(c).alias(c) for c in agg_cols]))


def morans_i(tiles: DataFrame, x_col: str = "x", y_col: str = "y",
             cnt_col: str = "cnt") -> DataFrame:
    """Global Moran's I spatial autocorrelation of per-tile counts with
    queen (8-neighbor) binary weights — the standard 'is density clustered,
    dispersed, or random?' statistic over a tile grid.

    I = (N / S0) * sum_ij w_ij (c_i - m)(c_j - m) / sum_i (c_i - m)^2

    Exactness: with m = T/N rational, the numerator and denominator are
    cleared of fractions — A = N^2*P - N*T*S1 + T^2*S0 and
    B = S0*(N*Q - T^2) where P = sum over ordered neighbor pairs of
    c_i*c_j, S1 = sum of (c_i + c_j), Q = sum c^2 — so every distributed
    aggregate is an order-independent integer sum and only the final A/B
    division is floating point (identical on both engines). The scalar
    A, B are computed in DECIMAL(38,0) so hot-tile counts can't overflow
    int64 at corpus scale.

    Scale shape: the input is the already-aggregated tile-count table
    (bounded by 4^z rows regardless of corpus size); neighbor pairs are an
    8-offset key explode + equi-join on (x, y) — no inequality join, no
    cartesian. Two scalar aggregates meet on a constant key (broadcast),
    producing one output row.

    The tile table is referenced three times (global scalars, the neighbor
    explode, the join-back side); it is bounded by 4^z rows whatever the
    corpus size, so it is pinned once (session.pin) instead of
    re-running the upstream per-tile aggregation per reference.
    """
    tiles = session.pin(tiles)
    c = F.col(cnt_col)
    g = tiles.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(c).alias("__t"),
        F.sum(c * c).alias("__q"),
    ).withColumn("__k", F.lit(1))

    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    nb = tiles.select(
        c.alias("__ci"),
        F.explode(F.array(*[
            F.struct((F.col(x_col) + dx).alias("nx"),
                     (F.col(y_col) + dy).alias("ny"))
            for dx, dy in offs])).alias("__nb"),
    ).select("__ci", F.col("__nb.nx").alias("__nx"), F.col("__nb.ny").alias("__ny"))
    right = tiles.select(F.col(x_col).alias("__nx"), F.col(y_col).alias("__ny"),
                         c.alias("__cj"))
    p = nb.join(right, ["__nx", "__ny"]).agg(
        F.count(F.lit(1)).alias("__s0"),
        F.sum(F.col("__ci") * F.col("__cj")).alias("__p"),
        F.sum(F.col("__ci") + F.col("__cj")).alias("__s1"),
    ).withColumn("__k", F.lit(1))

    d = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    a_num = (d("__n") * d("__n") * d("__p") - d("__n") * d("__t") * d("__s1")
             + d("__t") * d("__t") * d("__s0"))
    b_den = d("__s0") * (d("__n") * d("__q") - d("__t") * d("__t"))
    return (g.join(p, "__k")
            .select(
                F.col("__n").cast("long").alias("n_tiles"),
                F.col("__s0").cast("long").alias("s0"),
                F.when(b_den != 0,
                       F.round(a_num.cast("double") / b_den.cast("double"), 6))
                 .alias("morans_i"),
            ))


def getis_ord_gi(tiles: DataFrame, x_col: str = "x", y_col: str = "y",
                 cnt_col: str = "cnt") -> DataFrame:
    """Getis-Ord Gi* hot-spot statistic per tile (queen weights including
    self): the z-score of each tile's neighborhood sum against the global
    mean — the standard 'which tiles are significantly hot/cold?' local
    companion to the global Moran's I.

      Gi* = (sum_j c_j - m*W_i) / (S * sqrt((N*W_i - W_i^2) / (N-1)))
      m = T/N,  S = sqrt(Q/N - m^2)

    over the j in tile i's 3x3 neighborhood that exist, W_i = their count.
    The floating-point evaluation ORDER is pinned identically in the
    DuckDB twin (each division/sqrt step is an IEEE double op, so the
    results are bit-identical); all distributed aggregates (T, Q, N,
    neighborhood sums) are exact integer sums.

    Scale shape: one 9-offset explode + groupBy over the bounded tile
    table, an equi-join back to the tiles, and a broadcast of the 1-row
    global scalars on a constant key. No inequality join, no window.
    Like morans_i, the (bounded, <= 4^z rows) tile table is materialized
    once — it feeds the scalars, the 9-offset explode, and the join back.
    """
    tiles = session.pin(tiles)
    c = F.col(cnt_col)
    g = tiles.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(c).alias("__t"),
        F.sum(c * c).alias("__q"),
    ).withColumn("__k", F.lit(1))

    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    contrib = tiles.select(
        c.alias("__cj"),
        F.explode(F.array(*[
            F.struct((F.col(x_col) + dx).alias("tx"),
                     (F.col(y_col) + dy).alias("ty"))
            for dx, dy in offs])).alias("__to"),
    ).select(F.col("__to.tx").alias(x_col), F.col("__to.ty").alias(y_col), "__cj")
    hood = contrib.groupBy(x_col, y_col).agg(
        F.sum("__cj").alias("__sumw"), F.count(F.lit(1)).alias("__w"))

    n, t, q = F.col("__n"), F.col("__t"), F.col("__q")
    w, sumw = F.col("__w").cast("double"), F.col("__sumw").cast("double")
    m = t.cast("double") / n.cast("double")
    s = F.sqrt(q.cast("double") / n.cast("double") - m * m)
    den = s * F.sqrt((n.cast("double") * w - w * w) / (n.cast("double") - F.lit(1.0)))
    return (tiles.join(hood, [x_col, y_col])
            .withColumn("__k", F.lit(1)).join(g, "__k")
            .select(
                F.col(x_col), F.col(y_col), c.cast("long").alias("cnt"),
                F.col("__w").cast("long").alias("w_i"),
                F.when(den > 0, F.round((sumw - m * w) / den, 6))
                 .alias("gi_star"),
            ))


_BINOM5 = [1, 4, 6, 4, 1]  # (1+1)^4 row — integer Gaussian approximation


def tile_smooth(tiles: DataFrame, x_col: str = "x", y_col: str = "y",
                val_col: str = "cnt") -> DataFrame:
    """Heatmap smoothing of a per-tile value grid with the 5x5 binomial
    kernel (outer product of [1,4,6,4,1] — the standard integer Gaussian
    approximation; kernel sum 256, so smooth DIV 256 is the normalized
    value and the raw integer sum stays exact/orderless for the oracle).

    Scale shape: the kernel is SEPARABLE, so this runs as two 1-D passes
    (5 offsets + groupBy along x, then along y) — 10 stencil rows per tile
    instead of 25, and each pass is a map-side-combinable sum keyed on a
    tile coordinate. Edge tiles simply accumulate fewer taps (no mirroring
    — heatmaps fade at the border); tiles only reachable from a nonzero
    neighbor appear with their smoothed spill, matching the dense-kernel
    definition over an implicit zero grid. Output: (x, y, smooth).
    """
    w = F.array(*[F.lit(v) for v in _BINOM5])
    offs = F.array(*[F.lit(d) for d in (-2, -1, 0, 1, 2)])

    def _pass(df, coord, other, v):
        z = F.arrays_zip(offs.alias("d"), w.alias("w"))
        return (df.select(F.col(coord).alias("__c"), F.col(other).alias("__o"),
                          F.col(v).alias("__v"), F.explode(z).alias("__k"))
                .select((F.col("__c") + F.col("__k.d")).alias(coord),
                        F.col("__o").alias(other),
                        (F.col("__v") * F.col("__k.w")).alias("__t"))
                .groupBy(coord, other)
                .agg(F.sum("__t").alias(v)))

    p1 = _pass(tiles.select(x_col, y_col, F.col(val_col).cast("long")
                            .alias("__s")), x_col, y_col, "__s")
    p2 = _pass(p1, y_col, x_col, "__s")
    return p2.select(x_col, y_col, F.col("__s").alias("smooth"))


def tile_smooth_sql(src: str, x_col: str = "x", y_col: str = "y",
                    val_col: str = "cnt") -> str:
    """DuckDB twin: the NON-separated 5x5 kernel as one double-offset sum —
    an independent factorization of the same convolution (the Spark plan's
    separability is exactly what this cross-checks)."""
    return f"""
WITH __tsrc AS ({src}),
__tk AS (SELECT kx.d AS dx, kx.w AS wx, ky.d AS dy, ky.w AS wy
         FROM (VALUES (-2, 1), (-1, 4), (0, 6), (1, 4), (2, 1)) kx(d, w),
              (VALUES (-2, 1), (-1, 4), (0, 6), (1, 4), (2, 1)) ky(d, w))
SELECT t.{x_col} + k.dx AS {x_col}, t.{y_col} + k.dy AS {y_col},
       CAST(sum(t.{val_col} * k.wx * k.wy) AS BIGINT) AS smooth
FROM __tsrc t, __tk k
GROUP BY 1, 2
"""
