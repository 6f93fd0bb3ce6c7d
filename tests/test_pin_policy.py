"""Pin-policy guard: every frame the engine materializes goes through
`session.pin`. An ast scan of the package and the contract module fails on
any other call of localCheckpoint, checkpoint, persist or cache. The
lazy-pin tests check what `pin(eager=False)` promises: no job at the call,
one computation for every reader, the caller's AQE setting kept, and a
loud failure over an observed frame."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PIN_METHODS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _stray_pins(source: str, is_session: bool) -> list[tuple[int, str]]:
    """(line, method) of every pin-method call outside session.pin."""
    tree = ast.parse(source)
    allowed: set[int] = set()
    if is_session:
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "pin":
                allowed = {id(n) for n in ast.walk(node)}
    return [(node.lineno, node.func.attr) for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in PIN_METHODS and id(node) not in allowed]


def test_pins_only_inside_session_pin():
    session = ROOT / "mvt_wrangler_spark" / "session.py"
    files = sorted((ROOT / "mvt_wrangler_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    stray = [f"{path.relative_to(ROOT)}:{line} .{method}()"
             for path in files
             for line, method in _stray_pins(path.read_text(), path == session)]
    assert not stray, "pin through session.pin instead: " + ", ".join(stray)
    assert _stray_pins(session.read_text(), False), "session.pin lost its pin"


def test_stray_pin_scan_catches_each_method():
    """Negative control: each method is caught outside pin, also chained
    or nested, and a pin-named function elsewhere grants nothing."""
    src = '''
def pin(df):
    return df.localCheckpoint(eager=True)

def op(df):
    a = df.select("id").localCheckpoint()
    b = df.checkpoint(eager=False)
    c = df.persist().cache()
    return pin(a).union(b).union(c)
'''
    assert sorted(m for _, m in _stray_pins(src, True)) == [
        "cache", "checkpoint", "localCheckpoint", "persist"]
    assert len(_stray_pins(src, False)) == 5


@pytest.mark.spark
def test_lazy_pin_runs_no_job_and_computes_once(spark, tmp_path):
    from mvt_wrangler_spark import session

    log = tmp_path / "calls.log"
    log.touch()

    def tag(pdfs):  # one line per task
        with open(log, "a") as f:
            f.write("call\n")
        for pdf in pdfs:
            yield pdf.assign(v=pdf["id"] * 2)

    # a Python pass behind a shuffle: the shape of the engine's pinned frames
    df = (spark.range(0, 1000, 1, 3).mapInPandas(tag, "id long, v long")
          .groupBy("v").count())
    sc = spark.sparkContext
    sc.setJobGroup("lazy-pin-call", "lazy-pin-call")
    try:
        pinned = session.pin(df, eager=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("lazy-pin-call")) == 0
    assert log.read_text() == ""
    assert pinned.count() == 1000
    assert pinned.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(1000))
    # the second reader reads the stored blocks: the Python function ran
    # once per input partition, for the first reader only
    assert log.read_text().count("call") == 3


@pytest.mark.spark
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_lazy_pin_restores_the_callers_aqe_setting(spark, aqe):
    from mvt_wrangler_spark import session

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        pinned = session.pin(spark.range(10).groupBy("id").count(), eager=False)
        assert spark.conf.get(key) == aqe
        assert pinned.count() == 10
    finally:
        spark.conf.set(key, prev)


@pytest.mark.spark
def test_lazy_pin_over_an_observation_raises(spark):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mvt_wrangler_spark import session

    observed = spark.range(100).observe(Observation("o"), F.count(F.lit(1)).alias("rows"))
    with pytest.raises(ValueError, match="observe"):
        session.pin(observed.filter("id > 3"), eager=False)


@pytest.mark.spark
def test_eager_pin_counts_an_observation_exactly(spark):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mvt_wrangler_spark import session

    obs = Observation("eager")
    pinned = session.pin(spark.range(0, 10_000, 1, 4)
                         .observe(obs, F.count(F.lit(1)).alias("rows")))
    assert obs.get == {"rows": 10_000}
    assert pinned.filter("id % 2 = 0").count() == 5_000
    assert obs.get == {"rows": 10_000}
