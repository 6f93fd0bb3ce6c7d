"""The benchmark's own tests: at tiny size every workload prints every metric
with its unit, passes its check and leaves no process running, and a
deliberately corrupted output is caught. Run with
``python3 -m pytest perfbench/tests -q`` (a few minutes: each workload run
starts its own JVM)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

from perfbench import common as C
from perfbench import run as R
from perfbench import trace as T
from perfbench.neardup_ingest import band_buckets, kept_ids

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "run.py")


def _bench(workload: str, *extra: str) -> tuple[dict, str]:
    # output to files, not pipes: a JVM that outlived the run would hold a
    # pipe open, and reading it to the end would wait for the JVM to exit
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        rc = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--size", "tiny",
             "--seconds", "1", "--seed", "7", *extra],
            stdout=out, stderr=err, timeout=600).returncode
        assert not _left_behind()
        out.seek(0), err.seek(0)
        stdout = out.read()
        assert rc == 0, err.read()[-3000:]
    return json.loads(stdout.strip().splitlines()[-1]), stdout


def _left_behind() -> list[int]:
    """Live processes of a run: the JVM and Python workers inherit a TMPDIR
    inside the benchmark's output area."""
    mark = (C.OUT_DIR + os.sep).encode()
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    if mark in f.read():
                        pids.append(int(name))
            except OSError:
                continue
    return pids


ALL = R.WORKLOADS + R.EXTRA_WORKLOADS


@pytest.mark.parametrize("workload", ALL)
def test_end_to_end_metrics_and_check(workload):
    res, stdout = _bench(workload, "--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(R.END_TO_END)
    for name, unit in R.END_TO_END.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0
    for name, unit in {**R.END_TO_END, **R.WALL_CLOCK}.items():
        assert any(line.startswith(f"{name} = ") and line.endswith(f" {unit}")
                   for line in stdout.splitlines())


@pytest.mark.parametrize("workload", ALL)
def test_traced_run_reports_layers_and_catches_corruption(workload):
    res, _ = _bench(workload, "--trace", "1", "--corrupt")
    assert not res["correct"] and res["failed"] >= 1
    m = res["metrics"]
    assert set(m) == set(R.PER_LAYER)
    assert all(m[k]["unit"] == u for k, u in R.PER_LAYER.items())
    called = {
        "curate": ("tiling.self_s", "joins.rows_out", "dedup.rows_out",
                   "rollup.tiles_out", "catalog.files", "filters.rows_out",
                   "tile_encode.features", "pmtiles.unique_blobs"),
        "archive_rewrite": ("tile_encode.features", "tile_encode.tiles",
                            "pmtiles.leaves", "pmtiles.unique_blobs",
                            "filters.rows_out"),
        "neardup_ingest": ("incremental.batch_s", "dedup.candidate_pairs",
                           "catalog.commit_s", "catalog.snapshots"),
    }[workload]
    bypassed = {
        "curate": ("incremental.batch_s", "dedup.candidate_pairs",
                   "catalog.commit_s"),
        "archive_rewrite": ("tiling.self_s", "joins.rows_out", "dedup.rows_in",
                            "catalog.files"),
        "neardup_ingest": ("tiling.self_s", "tile_encode.tiles", "joins.rows_out"),
    }[workload]
    assert all(m[k]["value"] > 0 for k in called), {k: m[k] for k in called}
    assert all(m[k]["value"] == 0 for k in bypassed)


def test_no_result_without_the_program(tmp_path):
    """Beside only the benchmark's files, a run fails without a result."""
    import shutil

    shutil.copytree(os.path.dirname(RUN), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate",
         "--seconds", "1"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_benchmark_json_lists_what_run_py_reports():
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert tuple(w["name"] for w in spec["workloads"]) == R.WORKLOADS
    for key, table in (("end_to_end", R.END_TO_END), ("per_layer", R.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == table


def test_tail_quantile_uses_ten_samples_beyond():
    pct, v = C.tail_quantile([float(i) for i in range(100)])
    assert pct == 90.0 and v == pytest.approx(89.1)
    pct, _ = C.tail_quantile([1.0, 2.0, 3.0, 4.0])
    assert pct == 75.0


def test_event_log_credits_task_metrics_to_job_groups(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "5:dedup"}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task End Reason": {"Reason": reason},
         "Task Info": {"Launch Time": 0, "Finish Time": ms, "Failed": reason != "Success"},
         "Task Metrics": {"JVM GC Time": 100, "Memory Bytes Spilled": 1,
                          "Disk Bytes Spilled": 2,
                          "Shuffle Read Metrics": {"Fetch Wait Time": 50},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}
        for ms, reason in ((10, "Success"), (10, "Success"), (40, "ExceptionFailure"))
    ] + [
        # a warm-up op's span: not credited to the layer
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "-2:dedup"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 0, "Finish Time": 900, "Failed": True},
         "Task Metrics": {"JVM GC Time": 5000}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    (app / "appstatus_local-1").write_text("")
    stats = T.SpanStats(T.read_event_log(str(tmp_path)))
    got = stats.span_metrics("dedup")
    assert got["gc_s"] == pytest.approx(0.3)
    assert got["spill_bytes"] == 9 and got["fetch_wait_s"] == pytest.approx(0.15)
    assert got["task_failures"] == 1 and got["task_skew"] == pytest.approx(4.0)
    assert stats.shuffle_bytes("dedup") == 30 and stats.failures_by_op == {5: 1}


def test_neardup_oracle_follows_first_seen_semantics():
    a = "x" * 20 + " the quick brown fox jumps over the lazy dog again"
    b = str(a)                   # an exact copy shares every bucket
    c = "an unrelated caption about harbours and seagulls at dawn"
    assert band_buckets(a) == band_buckets(b)
    assert kept_ids([[(1, a), (2, c)], [(3, b)]]) == {1, 2}
