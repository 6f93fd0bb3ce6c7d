"""Metrics: observe() named metrics and the globally-exact row rank.

Reference analog: the progress bar's running counts/rate
(/root/reference/src/processing.rs:99-116). Here: named Observations riding
the job (zero extra passes). Post-commit counts in catalog.SnapshotTable are
the durable truth (accumulators double-count on task retries; observe
metrics are exactly-once per completed action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import session


def observed(df: DataFrame, name: str, **aggs) -> tuple[DataFrame, Observation]:
    """Attach named aggregates computed during the next action on df."""
    obs = Observation(name)
    cols = [v.alias(k) for k, v in aggs.items()] or [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *cols), obs


def with_global_rank(df: DataFrame, order_cols: list[str],
                     num_partitions: int | None = None,
                     out_col: str = "rn") -> DataFrame:
    """Globally-exact row_number over `order_cols` WITHOUT a
    single-partition window — the z-independent rank shape for exact
    quantiles/medians over arbitrarily large inputs.

    Plan: repartitionByRange on the key (range partitioner => partition i
    holds strictly-smaller keys than partition i+1), a PER-PARTITION
    row_number (parallel across all partitions), then global rank =
    per-partition cumulative offset + local rank. The only globally-ordered
    structure is the P-row offset table (P = shuffle parallelism, input-size
    independent), joined back via broadcast. A plain Window.orderBy pushes
    EVERY row through one task — up to 268M rows at z14 for the tile
    universe; here no task ever sees more than its range slice.

    order_cols must be ties-free (append a unique tiebreak column).
    """
    from pyspark.sql import Window

    cols = [F.col(c) for c in order_cols]
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = (df.repartitionByRange(P, *cols)
         .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy(*cols)
    d = d.withColumn("__lrn", F.row_number().over(wl))
    # Pin ONE materialization of the range-partitioned frame. Both the offset
    # aggregate and the final join reference this plan; range boundaries come
    # from SAMPLING, so if Spark's exchange-reuse ever recomputed the two
    # references separately, offsets and local ranks would come from
    # DIFFERENT partitionings and global ranks would be silently wrong.
    d = session.pin(d)
    offs = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (offs.withColumn("__off", F.coalesce(F.sum("__n").over(wo), F.lit(0)))
            .select("__pid", "__off"))
    return (d.join(F.broadcast(offs), "__pid")
            .withColumn(out_col, (F.col("__off") + F.col("__lrn")).cast("long"))
            .drop("__pid", "__lrn", "__off"))
