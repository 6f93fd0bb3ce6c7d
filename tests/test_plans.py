"""Plan-shape regression gate: the scripts/plan_audit.py red-flag scan as a
pytest, so an accidental cartesian stage, single-partition funnel, or
unpruned scan in an audited contract query fails CI instead of waiting for
a judge. The PLANS.md artifact itself is still generated by the script
(with AQE off, to show codegen spans); this gate checks the same plans
through the shared session."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from plan_audit import (  # noqa: E402
    AUDIT,
    SINGLE_PARTITION_OK,
    formatted_plan,
    plan_red_flags,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.spark
@pytest.mark.parametrize("name", [n for n, _ in AUDIT])
def test_audited_plan_is_clean(spark, name):
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    flags = plan_red_flags(name, formatted_plan(df))
    assert not flags, f"{name}: {flags}"


@pytest.mark.spark
def test_minhash_clusters_single_partition_is_the_closure_only(spark):
    """minhash_clusters is exempt from the single-partition flag for the
    pair_clusters closure alone: one SinglePartition exchange feeding one
    MapInArrow task, and no local table standing in for the work."""
    import __spark_entry__ as e

    plan = formatted_plan(e.queries()["minhash_clusters"](spark, SF_DIR))
    assert plan.count("SinglePartition") == 1
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert "LocalTableScan" not in plan


@pytest.mark.spark
def test_red_flag_scan_catches_broken_plans(spark):
    """Negative control: deliberately-bad plans must be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))

    # cartesian product
    flags = plan_red_flags("some_query", formatted_plan(df.crossJoin(
        df.select(F.col("id").alias("id2")))))
    assert any("cartesian" in f for f in flags)

    # global window -> single-partition exchange
    ranked = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    flags = plan_red_flags("some_query", formatted_plan(ranked))
    assert any("single-partition" in f for f in flags)

    # unpruned scan: read a wide parquet table and keep every column
    wide = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    flags = plan_red_flags("some_query", formatted_plan(
        wide.filter(F.col("l_orderkey") > 0)))
    assert any("unpruned" in f for f in flags)


def test_every_query_has_an_oracle():
    """The contract pairs each query with exactly one DuckDB oracle: a query
    without a twin would pass check_contract on row counts alone, and an
    oracle without a query checks nothing. Every audit exemption and
    per-query budget must also name a live query: an entry left behind by a
    deleted query is a special case the red-flag gate no longer needs."""
    import __spark_entry__ as e

    names = e.queries().keys()
    assert names == e.oracle_sql().keys()
    listed = {
        "AUDIT": {n for n, _ in AUDIT},
        "SINGLE_PARTITION_OK": SINGLE_PARTITION_OK,
        "PYTHON_PASS_BUDGET": {n for n, _ in PYTHON_PASS_BUDGET},
        "PIN_PASS_QUERIES": PIN_PASS_QUERIES,
        "PIN_AUDIT_QUERIES": PIN_AUDIT_QUERIES,
    }
    stale = {k: sorted(set(v) - names) for k, v in listed.items()
             if set(v) - names}
    assert not stale, f"entries for queries that do not exist: {stale}"


def test_read_schema_ncols_counts_top_level_only():
    """Nested types must not overcount; truncated schemas must trip the
    width gate instead of undercounting."""
    from plan_audit import MAX_SCAN_COLS, read_schema_ncols

    # map/struct/array commas are NOT column separators
    plan = ("Scan parquet [..] ReadSchema: "
            "struct<id:bigint,tags:map<string,string>,"
            "geom:struct<x:double,y:double>,e:array<struct<a:int,b:int>>>")
    assert read_schema_ncols(plan) == [4]

    # plain schemas, empty schema, multiple scans
    plan = ("ReadSchema: struct<a:int,b:int>\nfoo\n"
            "ReadSchema: struct<>\n"
            "ReadSchema: struct<only:string>")
    assert read_schema_ncols(plan) == [2, 0, 1]

    # Spark's truncation ('... N more fields') must exceed MAX_SCAN_COLS
    plan = ("ReadSchema: struct<a:int,b:int,c:int,d:int,"
            "... 12 more fields>")
    assert read_schema_ncols(plan)[0] > MAX_SCAN_COLS


# (query, max ArrowEvalPython nodes): the round-7 single-Python-pass wins.
# Un-pinned / un-marked versions of these plans carried 2-6 copies of the
# same expensive Python pass (minhash banding 6x, the PIP /
# exact-intersects match UDF 2x via the filter inferred from explode, the
# cell-encode chain 4x). Unlike duplicated JVM subtrees — which AQE stage
# reuse dedups at runtime — duplicated ArrowEvalPython nodes all execute,
# so a regression here is a real 2-6x cost multiplier that pytest results
# and the noisy shared-box bench would both miss.
PYTHON_PASS_BUDGET = [
    ("minhash_lsh", 1),
    ("pip_join", 1),
    ("intersects_join", 1),
    ("cell_cover_join", 0),  # encode runs once inside the pinned proxy
]


def _python_passes(plan: str) -> int:
    """ArrowEvalPython nodes in a formatted plan: count the details-section
    headers ("(N) ArrowEvalPython") so each physical node counts once."""
    return len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))


@pytest.mark.spark
@pytest.mark.parametrize("name,budget", PYTHON_PASS_BUDGET)
def test_single_python_pass_shape(spark, name, budget):
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    n = _python_passes(formatted_plan(df))
    assert n <= budget, (
        f"{name}: {n} ArrowEvalPython nodes (budget {budget}) — a pinned "
        f"input lost its session.pin or a match UDF lost its "
        f"asNondeterministic marker; every extra node re-executes the "
        f"whole Python pass")


# The budget above reads the plan AFTER the pins, where a pinned frame is a
# Scan ExistingRDD, so a Python pass duplicated inside the pinned subplan
# would pass it. Here a recording pin keeps the plan each pin materializes.
def _pinned_plans(spark, monkeypatch, name) -> list[str]:
    import __spark_entry__ as e
    from mvt_wrangler_spark import session

    real_pin, plans = session.pin, []

    def recording_pin(df, eager=True):
        plans.append(formatted_plan(df))
        return real_pin(df, eager=eager)

    monkeypatch.setattr(session, "pin", recording_pin)
    e.queries()[name](spark, SF_DIR)
    assert plans, f"{name}: no frame went through session.pin"
    return plans


PIN_PASS_QUERIES = ["cell_cover_join", "minhash_lsh"]


@pytest.mark.spark
@pytest.mark.parametrize("name", PIN_PASS_QUERIES)
def test_single_python_pass_under_each_pin(spark, monkeypatch, name):
    plans = _pinned_plans(spark, monkeypatch, name)
    assert [_python_passes(p) for p in plans] == [1] * len(plans), (
        f"{name}: every pinned frame must run its Python pass exactly once")


# phash_dedup pins its keepers and minhash_lsh_candidates its band rows, so
# the audited plans of these queries end at the pin; the red-flag scan also
# reads the subplans behind it.
PIN_AUDIT_QUERIES = ["pipeline_e2e", "phash_dedup", "minhash_clusters"]


@pytest.mark.spark
@pytest.mark.parametrize("name", PIN_AUDIT_QUERIES)
def test_audited_plan_is_clean_under_each_pin(spark, monkeypatch, name):
    for plan in _pinned_plans(spark, monkeypatch, name):
        assert "ReadSchema" in plan, name
        flags = plan_red_flags(name, plan)
        assert not flags, f"{name}: {flags}"
