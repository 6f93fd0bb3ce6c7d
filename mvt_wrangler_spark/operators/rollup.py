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

