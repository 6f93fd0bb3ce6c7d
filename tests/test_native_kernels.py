"""The native (codegen) PIP mask matches its numpy oracle, and its inlining
barrier holds."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import filters as FL
from mvt_wrangler_spark.sources.fixtures import default_filter_geojson
from tests.oracle import pipeline_oracle as PO


@pytest.fixture(scope="module")
def pts_df(spark):
    rng = random.Random(99)
    rows = [(i, rng.uniform(-179.9, 179.9), rng.uniform(-84.9, 84.9)) for i in range(2000)]
    # pin a few face/edge-adjacent points
    rows += [(9000 + j, lon, lat) for j, (lon, lat) in enumerate(
        [(0.0, 0.0), (90.0, 0.0), (0.0, 89.0), (180.0 - 1e-9, 0.0), (-45.0, 35.26),
         (139.76, 35.68), (-74.0, 40.71)])]
    return rows, spark.createDataFrame(rows, "id long, lon double, lat double")


@pytest.mark.spark
def test_filter_mask_native_matches_udf(spark, pts_df):
    rows, df = pts_df
    prog = FL.FilterProgram.from_geojson(default_filter_geojson())
    native = {r.id: r.m for r in df.select(
        "id", FL.filter_mask_native(prog, F.col("lon"), F.col("lat")).alias("m")).collect()}
    masks = PO.filter_masks(
        [{"image_id": r[0], "lon": r[1], "lat": r[2]} for r in rows], prog)
    for r in rows:
        assert native[r[0]] == masks[r[0]]
    assert sum(1 for v in native.values() if v & 0b11) >= 2  # pinned metro points hit
    assert all(v & 0b100 for v in native.values())  # global polygon covers all

@pytest.mark.spark
def test_materialize_barrier_limits_expression_inlining(spark):
    """The +floor(rand*0) barrier in filter_mask_native relies on Catalyst
    NOT constant-folding rand*0 and not substituting nondeterministic
    projections. Pin that: with the barrier, the polygon math appears at
    most once per downstream consumer in the optimized plan; without it,
    CollapseProject inlines strictly more copies. If a Spark upgrade
    changes either behavior, this fails and the barrier needs the
    replacement idiom (explicit projection barrier / localCheckpoint)."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog = FL.FilterProgram.from_geojson(default_filter_geojson())
    probe = repr(float(prog.features[0].polygons[0].exterior[0][0]))
    df = spark.range(100).select(
        (F.col("id") * 1.0).alias("lon"), (F.col("id") * 0.5).alias("lat"),
        F.lit("pois").alias("layer"),
        F.create_map(F.lit("name"), F.lit("x"),
                     F.lit("name:fr"), F.lit("y")).alias("tags"))
    counts = {}
    for mat, build in ((False, FL._point_mask), (True, FL.filter_mask_native)):
        mask = build(prog, F.col("lon"), F.col("lat"))
        out = FL.apply_tag_filter(
            FL.apply_feature_filter(df.withColumn("filter_mask", mask), prog), prog)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        counts[mat] = plan.count(probe)
    assert counts[True] >= 1              # the math is still in the plan
    assert counts[True] <= 2              # at most once per consumer
    assert counts[True] < counts[False]   # barrier strictly reduces inlining
