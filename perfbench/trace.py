"""Spans around the benchmark's calls into each layer, and the Spark event
log reader that credits task metrics to them.

A span sets the Spark job group ``<op>:<layer>`` while it runs, so every job
the span triggers is tagged. After the session stops, `read_event_log`
folds the event log's task-end records into per-group totals: GC time,
spilled bytes, shuffle-fetch wait, shuffle bytes written, failed or retried
tasks, and the worst per-stage task-time skew (slowest task over the median
task of that stage).

DataFrame calls are lazy, so a traced job materialises each layer's output
through the noop sink at the span boundary (`Tracer.prefix`). The prefix
time covers every layer up to that point; a layer's self time is its prefix
time minus the prefix time of the layer before it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from contextlib import contextmanager

from . import common as C

SPAN_METRICS = ("gc_s", "spill_bytes", "fetch_wait_s", "task_failures",
                "task_skew")


class Tracer:
    """Records span wall times per (op, name); off when `enabled` is false.

    `name` defaults to the layer; a layer with several spans in one op (the
    codec's decode and encode) names them apart. Spans nest: the inner span
    tags the jobs it triggers and the outer group resumes after it."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.times: dict[tuple[int, str], float] = {}
        self._groups = ["untraced"]

    @contextmanager
    def span(self, op: int, layer: str, name: str | None = None):
        if not self.enabled:
            yield
            return
        group = f"{op}:{layer}"
        self._groups.append(group)
        self.sc.setJobGroup(group, layer)
        t0 = C.now()
        try:
            yield
        finally:
            key = (op, name or layer)
            self.times[key] = self.times.get(key, 0.0) + C.now() - t0
            self._groups.pop()
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])

    def prefix(self, op: int, layer: str, df, name: str | None = None,
               **counts) -> dict[str, int]:
        """Materialise `df` inside the span (op, layer); return the named
        aggregate `counts` observed during that same job."""
        with self.span(op, layer, name):
            return observed_force(df, **counts)

    def self_time(self, op: int, name: str, before: str | None = None) -> float:
        """Prefix time of `name` minus the prefix time of `before`."""
        t = self.times.get((op, name), 0.0)
        return t - self.times.get((op, before), 0.0) if before else t


def observed_force(df, **counts) -> dict[str, int]:
    """Materialise `df`; return the aggregate `counts` observed on the way."""
    if not counts:
        C.force(df)
        return {}
    from pyspark.sql import Observation

    obs = Observation()
    C.force(df.observe(obs, *[c.alias(k) for k, c in counts.items()]))
    return {k: int(v or 0) for k, v in obs.get.items()}


def _event_file_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: summed task metrics, failed tasks and stage skew."""
    # one log per SparkContext; Spark 4 writes each as a directory of
    # numbered event files beside an empty appstatus marker
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p)
         and not os.path.basename(p).startswith("appstatus")),
        key=lambda p: (os.path.dirname(p), _event_file_index(p)))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = {}
    stage_times: dict[int, list[float]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "untraced"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups.setdefault(stage_group.get(sid, "untraced"), {
                        "gc_s": 0.0, "spill_bytes": 0.0, "fetch_wait_s": 0.0,
                        "shuffle_bytes": 0.0, "task_failures": 0.0,
                        "tasks": 0.0, "stages": set()})
                    info = ev.get("Task Info", {})
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    g["tasks"] += 1
                    if info.get("Failed") or info.get("Killed") \
                            or reason != "Success" or info.get("Speculative"):
                        g["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    g["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0) / 1000.0
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["stages"].add(sid)
                    stage_times.setdefault(sid, []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0))
    for g in groups.values():
        skews = [max(t) / max(statistics.median(t), 1.0)
                 for sid in g.pop("stages")
                 if len(t := stage_times[sid]) >= 2]
        g["task_skew"] = max(skews, default=1.0)
    return groups


class SpanStats:
    """Per-layer view over the event-log groups of many ops."""

    def __init__(self, groups: dict[str, dict[str, float]]):
        self.by_layer: dict[str, list[dict[str, float]]] = {}
        self.failures_by_op: dict[int, int] = {}
        for key, g in groups.items():
            op, _, layer = key.partition(":")
            if not layer or int(op) < 0:     # untraced, or a warm-up op
                continue
            self.by_layer.setdefault(layer, []).append(g)
            self.failures_by_op[int(op)] = (self.failures_by_op.get(int(op), 0)
                                            + int(g["task_failures"]))

    def per_op(self, layer: str, field: str) -> float:
        """Median over traced ops of the layer's summed `field`."""
        vals = [g[field] for g in self.by_layer.get(layer, [])]
        return statistics.median(vals) if vals else 0.0

    def span_metrics(self, layer: str) -> dict[str, float]:
        """The five per-span metrics of `layer`, over the jobs its spans ran
        (a prefix span re-runs its narrow upstream stages too)."""
        if layer not in self.by_layer:
            return {k: 0.0 for k in SPAN_METRICS}
        out = {k: self.per_op(layer, k)
               for k in ("gc_s", "spill_bytes", "fetch_wait_s")}
        out["task_failures"] = float(sum(
            g["task_failures"] for g in self.by_layer[layer]))
        out["task_skew"] = max(g["task_skew"] for g in self.by_layer[layer])
        return out

    def shuffle_bytes(self, layer: str) -> float:
        return self.per_op(layer, "shuffle_bytes")
