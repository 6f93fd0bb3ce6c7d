"""The repository's benchmark: closed-loop workloads over the tiling engine,
each in its own driver JVM on local[nproc].

    python3 perfbench/run.py --workload curate --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30

BENCHMARK.json lists `curate` and `neardup_ingest`; `archive_rewrite` runs
when named (and under --workload all), see perfbench/WORKLOADS.md.

A run sets up (session start, seeded input generation, warm-up), runs the
workload's job back to back for --seconds, checks every job's output against
an independent computation outside the timed region, and prints each metric
as ``name = value unit`` followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. --trace 0 reports the
end-to-end metrics; --trace 1 splits the time between untraced and traced
jobs and reports the per-layer metrics (see perfbench/WORKLOADS.md).
--workload all runs every workload, each in a fresh Python process and JVM.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common as C  # noqa: E402
from perfbench import trace as T  # noqa: E402

# the workloads BENCHMARK.json lists; archive_rewrite runs on request only
WORKLOADS = ("curate", "neardup_ingest")
EXTRA_WORKLOADS = ("archive_rewrite",)

# the result line's metrics, each with a regression bound in BENCHMARK.json
END_TO_END = {
    "setup_s": "s", "cpu_s_per_mrow": "s/Mrow", "peak_rss_mb": "MB",
    "output_bytes": "bytes",
}
# printed beside them but left out of the result line: on a host that lends
# its cores to other guests they follow the host's load, not the program
# (see perfbench/WORKLOADS.md)
WALL_CLOCK = {"rows_per_s": "1/s", "latency_p50_s": "s", "latency_tail_s": "s"}

_SPAN_LAYERS = ("scan", "tiling", "cells", "joins", "filters", "dedup",
                "rollup", "tile_encode", "pmtiles", "catalog", "incremental")
_SPAN_UNITS = {"gc_s": "s", "spill_bytes": "bytes", "fetch_wait_s": "s",
               "task_failures": "count", "task_skew": "ratio"}
PER_LAYER = {
    "scan.self_s": "s",
    "tiling.self_s": "s", "cells.self_s": "s",
    "joins.self_s": "s", "joins.rows_out": "count",
    "filters.self_s": "s", "filters.rows_in": "count",
    "filters.rows_out": "count", "filters.tag_entries_in": "count",
    "filters.tag_entries_out": "count",
    "dedup.self_s": "s", "dedup.rows_in": "count", "dedup.rows_out": "count",
    "dedup.shuffle_bytes": "bytes", "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "rollup.self_s": "s", "rollup.tiles_out": "count",
    "rollup.shuffle_bytes": "bytes",
    "tile_encode.decode_s": "s", "tile_encode.encode_s": "s",
    "tile_encode.tiles": "count", "tile_encode.features": "count",
    "pmtiles.read_s": "s", "pmtiles.write_s": "s",
    "pmtiles.unique_blobs": "count", "pmtiles.leaves": "count",
    "catalog.write_s": "s", "catalog.files": "count", "catalog.bytes": "bytes",
    "catalog.commit_s": "s", "catalog.read_s": "s",
    "catalog.snapshots": "count",
    "pipeline.plan_s": "s", "incremental.batch_s": "s",
    **{f"{layer}.{m}": u for layer in _SPAN_LAYERS
       for m, u in _SPAN_UNITS.items()},
    "tracing_overhead": "s",
}


def load(name: str):
    if name == "curate":
        from perfbench.curate import Curate as W
    elif name == "archive_rewrite":
        from perfbench.archive_rewrite import ArchiveRewrite as W
    else:
        from perfbench.neardup_ingest import NeardupIngest as W
    return W


def run_one(args) -> int:
    # fail fast, before any JVM, when the program is not beside the benchmark
    import mvt_wrangler_spark  # noqa: F401

    # one work dir per process, so two runs never share tables
    work = C.fresh_dir(os.path.join(C.OUT_DIR, f"{args.workload}-{os.getpid()}"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (C.ROOT, os.environ.get("PYTHONPATH")) if p)
    w = load(args.workload)(args.size, args.seed, work)

    # set-up, several times: each starts a SparkContext (the first also
    # launches the JVM) and generates the seed's input afresh
    setups, spark = [], None
    try:
        for rep in range(w.setup_reps):
            t0 = C.now()
            if spark is not None:
                spark.stop()
            spark = C.start_session(work, f"perfbench-{args.workload}",
                                    event_log=bool(args.trace))
            w.generate(spark, rep)
            setups.append(C.now() - t0)
        t0 = C.now()
        # a traced run warms up through the traced path: it forces plans (and
        # curate reads its export back) that no untraced op runs, and their
        # first-run cost would otherwise land in the first traced op
        warm = T.Tracer(spark, enabled=bool(args.trace))
        for i in range(w.warmup_ops):
            w.op(spark, -1 - i, warm)
        warmup = C.now() - t0
        off = T.Tracer(spark, enabled=False)
        setup_s = C.median(setups) + warmup

        records = []
        budget = args.seconds / 2 if args.trace else args.seconds
        cpu0 = C.tree_cpu_s()
        with C.RssSampler() as rss:
            t0 = C.now()
            # no op starts that would end past the budget if it took as long
            # as the op before it: a run measures at most --seconds (at least
            # one op), which keeps a full evaluation inside its time limit
            while not records or (C.now() - t0 + records[-1]["wall"] <= budget):
                records.append(_attempt(w, spark, len(records), off))
            wall = C.now() - t0
        cpu = C.tree_cpu_s() - cpu0 - rss.cpu_s

        traced = []
        tracer = T.Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            t1 = C.now()
            while not traced or C.now() - t1 + traced[-1]["wall"] <= budget:
                traced.append(_attempt(w, spark, len(records) + len(traced),
                                       tracer))

        # correctness, outside the timed region
        t_check = C.now()
        oks = [_checked(w, spark, r, args.corrupt and i == len(records) - 1)
               for i, r in enumerate(records)]
        oks += [_checked(w, spark, r, False) for r in traced]
        conf = C.settings(spark)
        t_check = C.now() - t_check
    finally:
        C.stop_all(spark)
    failed, attempted = sum(not ok for ok in oks), len(oks)

    print(f"# workload {args.workload} seed {args.seed}: {len(records)} "
          f"untraced + {len(traced)} traced jobs; {conf}")
    print(f"# set-ups {[round(x, 2) for x in setups]} s; warm-up {warmup:.2f} s; "
          f"check {t_check:.2f} s")
    if not args.trace:
        rows = sum(r["rows"] for r in records)
        lat = [x for r in records for x in r["latencies"]]
        pct, tail = C.tail_quantile(lat)
        print(f"# {rows} {w.row_unit} in {wall:.2f} s; "
              f"latency samples {len(lat)}; tail percentile p{pct}; "
              f"error_rate {failed / attempted:.4f} ({failed}/{attempted})")
        print(f"# latencies {[round(x, 2) for x in lat]} s; output bytes "
              f"{[r['output_bytes'] for r in records]}; CPU {cpu:.2f} s "
              f"(memory sampling {rss.cpu_s:.2f} s taken out)")
        for name, value in (("rows_per_s", rows / wall),
                            ("latency_p50_s", C.median(lat)),
                            ("latency_tail_s", tail)):
            print(f"{name} = {value:.6g} {WALL_CLOCK[name]}")
        metrics = {
            "setup_s": setup_s,
            "cpu_s_per_mrow": cpu / (rows / 1e6),
            "peak_rss_mb": rss.peak / 2**20,
            "output_bytes": C.median([r["output_bytes"] for r in records]),
        }
        units = END_TO_END
    else:
        stats = T.SpanStats(T.read_event_log(os.path.join(work, "eventlog")))
        # an op whose Spark tasks failed or were retried counts as failed
        bad = {i for i, n in stats.failures_by_op.items() if n}
        failed += sum(1 for i, r in enumerate(traced, start=len(records))
                      if i in bad and oks[i])
        layer = w.layer_metrics(tracer, [r for r in traced if not r.get("error")],
                                stats)
        for name in _SPAN_LAYERS:
            for m, v in stats.span_metrics(name).items():
                layer[f"{name}.{m}"] = v
        layer["tracing_overhead"] = (
            C.median([sum(r["latencies"]) for r in traced])
            - C.median([sum(r["latencies"]) for r in records]))
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
        metrics = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
        print(f"# error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    w.cleanup()
    C.emit(failed == 0, attempted, failed,
           {k: (v, units[k]) for k, v in metrics.items()})
    return 0


def _attempt(w, spark, k: int, tracer) -> dict:
    """One op; an op that raises is recorded as failed, not fatal."""
    t0 = C.now()
    try:
        rec = w.op(spark, k, tracer)
    except Exception:  # noqa: BLE001 - counted toward error_rate
        traceback.print_exc()
        rec = {"error": True, "rows": 0, "latencies": [], "output_bytes": 0}
    rec["wall"] = C.now() - t0
    return rec


def _checked(w, spark, rec: dict, corrupt: bool) -> bool:
    if rec.get("error"):
        return False
    try:
        return w.check(spark, rec, corrupt=corrupt)
    except Exception:  # noqa: BLE001 - a check that cannot run is a failure
        traceback.print_exc()
        return False


def run_all(args) -> int:
    """Every workload in its own process, hence its own fresh JVM."""
    rc = 0
    for name in WORKLOADS + EXTRA_WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        print(f"## {name}", flush=True)
        rc = max(rc, subprocess.run(cmd, timeout=900).returncode)
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a few hundred rows, for the benchmark's tests")
    p.add_argument("--corrupt", action="store_true",
                   help="damage the last job's output before it is checked "
                        "(the benchmark's tests use this)")
    args = p.parse_args(argv)
    # a terminated run unwinds like an error, so it too stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
