"""Shared plumbing for the benchmark: Spark session, process-tree sampling,
timing statistics and the result line.

Everything the benchmark writes lives under ``<checkout>/.perfbench_out``:
Spark's local dirs, the JVM temp dir, the event log of a traced run and the
tables each workload commits.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# Spark settings every workload runs with; WORKLOADS.md records them.
MAX_PARTITION_BYTES = 8 * 1024 * 1024
ARROW_BATCH_ROWS = 65536


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work_dir: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a fixed-size heap: a heap that grows on demand settled at different
        # sizes run to run, and with it GC time, CPU and resident memory.
        # C1 only: in a JVM that lives a minute, C2 compiler threads compete
        # with the job for the few cores through the timed region
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:TieredStopAtLevel=1",
        "spark.driver.memory": "2g",
        "spark.sql.files.maxPartitionBytes": str(MAX_PARTITION_BYTES),
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = log_dir
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(work_dir: str, app_name: str, event_log: bool = False):
    """local[nproc] session with every scratch path inside `work_dir`.

    master and shuffle partitions are passed explicitly so the session never
    falls back to the library's SPARK_GRAFT_CPUS default."""
    from mvt_wrangler_spark.session import get_spark

    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")  # Python workers
    n = n_cores()
    spark = get_spark(master=f"local[{n}]", app_name=app_name,
                      shuffle_partitions=n,
                      extra=spark_conf(work_dir, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark=None, timeout: float = 30.0) -> None:
    """Stop the session, end the driver JVM and wait until every process the
    run started has exited.

    ``spark.stop()`` leaves the JVM alive until Python exits, and the JVM's
    Python workers outlive it by a moment; both would still be running after
    the benchmark returns. The JVM exits when its stdin closes; it is killed
    if it has not after `timeout` seconds, and so is any worker left after
    that."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree() if p != os.getpid()]
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - closed pipe or timeout
                proc.kill()
                proc.wait()
        _wait_gone(descendants, timeout)


def _alive(pid: int) -> bool:
    """True while `pid` runs; a zombie waiting to be reaped has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {k: conf.get(k) for k in (
        "spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.adaptive.enabled", "spark.driver.memory")}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total


def force(df) -> None:
    """Materialise every column of `df` without writing bytes (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# process tree: the driver Python, its JVM, and the JVM's Python workers
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields)
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, stack = [], [root]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU of the tree, including reaped children."""
    table = _proc_table()
    total = 0
    for pid in process_tree():
        if pid in table:
            f = table[pid][1]
            # utime stime cutime cstime are stat fields 14-17
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes() -> int:
    """Resident memory of the tree as proportional set size: pages shared by
    the forked Python workers count once, not once per worker."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the tree's resident memory every `period` seconds.

    Reading a large JVM's page tables costs CPU that lands in this process
    and grows with wall time; `cpu_s` is that cost, for the caller to take
    out of the program's CPU."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak = max(self.peak, tree_rss_bytes())
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


# ---------------------------------------------------------------------------
# statistics and output
# ---------------------------------------------------------------------------

def tail_quantile(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile the sample supports.

    The highest percentile with ten samples beyond it needs n >= 20; with
    fewer samples the percentile falls to the one with n // 4 samples beyond
    it (p75 at worst), so the tail never rests on a single sample."""
    n = len(values)
    beyond = min(10, max(1, n // 4))
    p = 1.0 - beyond / n
    xs = sorted(values)
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return round(100 * p, 1), xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def now() -> float:
    return time.perf_counter()


def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """Human-readable metric lines, then the one-line JSON result."""
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


class Workload:
    """One benchmark workload: seeded input generation, one op (a job or a
    batch sequence) and the independent check of an op's output."""

    setup_reps = 2
    warmup_ops = 1

    def __init__(self, size: str, seed: int, work_dir: str):
        self.size, self.seed, self.work = size, seed, work_dir

    def generate(self, spark, rep: int) -> None:
        raise NotImplementedError

    def op(self, spark, k: int, tracer) -> dict:
        """Run op `k`; returns {"rows", "latencies", "output_bytes", ...}."""
        raise NotImplementedError

    def check(self, spark, rec: dict, corrupt: bool = False) -> bool:
        raise NotImplementedError

    def layer_metrics(self, tracer, traced: list[dict], stats) -> dict:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Drop the run's work dir; the event log of a traced run moves to
        ``.perfbench_out/<workload>-eventlog``, replacing the previous one."""
        log = os.path.join(self.work, "eventlog")
        if os.path.isdir(log):
            keep = os.path.join(OUT_DIR, f"{self.name}-eventlog")
            shutil.rmtree(keep, ignore_errors=True)
            os.rename(log, keep)
        shutil.rmtree(self.work, ignore_errors=True)
