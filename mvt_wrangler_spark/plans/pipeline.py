"""End-to-end job: assign -> cells -> spatial join -> filter -> dedup -> rollup.

This is the Spark re-expression of the reference's whole dataflow
(/root/reference/src/lib.rs:39-101 + src/processing.rs:18-129):
  scan (S1/S2)            -> parquet scan of the images table
  spatial prefilter (J1)  -> PIP bitmask (native Catalyst column)
  feature filter (P4)     -> df.filter(~compiled_expr)
  tag filter (P5)         -> F.map_filter
  dict re-encode (A1)     -> parquet dictionary encoding at the sink
  ordered write (S5/W1)   -> the caller's SnapshotTable.write_snapshot
                             (range buckets on tile_id, sorted within)
  metrics (A3)            -> the stats table

One narrow stage + exactly two shuffles (the dedup window; the sink's range
partition) — the same stage shape at sf0.001 and 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import tiling
from ..operators import dedup as D
from ..operators import filters as FL
from ..operators import rollup as R


@dataclass
class PipelineResult:
    assignments: DataFrame
    survivors: DataFrame
    deduped: DataFrame
    stats: DataFrame
    pyramid: DataFrame


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    program: FL.FilterProgram | None,
    z: int = 10,
    min_z: int = 0,
) -> PipelineResult:
    """The flagship query (SURVEY §7.2 step 2), generalized."""
    # fused pandas-UDF encoder: one Arrow round trip + one shared
    # lon/lat->xyz pass for both cells (a native Catalyst chain of the
    # same math exceeds HotSpot's method-size limits)
    assigned = C.with_cells(tiling.assign_tiles(images, z=z),
                            lat="lat", lng="lon")

    if program is not None and program.features:
        # native codegen mask behind an inlining barrier (see
        # filters.filter_mask_native docstring: inlining would multiply the
        # polygon math by features x map-entries)
        masked = assigned.withColumn(
            "filter_mask",
            FL.filter_mask_native(program, F.col("lon"), F.col("lat")),
        )
        survivors = FL.apply_feature_filter(masked, program)
        survivors = FL.apply_tag_filter(survivors, program)
    else:
        survivors = assigned.withColumn("filter_mask", F.lit(0).cast("long"))

    # the window dedup keeps the full surviving rows (min image_id per
    # (tile, phash)), which the archive sink needs; its lazy pin computes
    # them once for the snapshot, stats, pyramid and export
    deduped = D.phash_dedup(survivors)
    stats = R.tile_stats(deduped, n_salt=8)
    pyramid = R.pyramid_rollup(
        stats.select("z", "x", "y", "n_rows", "bytes_in"), base_z=z, min_z=min_z
    )

    return PipelineResult(
        assignments=assigned,
        survivors=survivors,
        deduped=deduped,
        stats=stats,
        pyramid=pyramid,
    )
