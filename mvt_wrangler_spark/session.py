"""SparkSession builder with the engine's scale-oriented defaults, and the
engine's one pin policy.

The reference's runtime knobs (num_cpus readers + rayon pool, bounded
channels — /root/reference/src/processing.rs:12,24) map in Spark to
parallelism + AQE configs; we set them once here so every entry point
(tests, bench, CLI, driver hooks) runs with the same physical profile.
Every frame the engine materializes goes through `pin`, so how a frame is
pinned is decided here too.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "mvt-wrangler-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow enabled.

    Without `master`/`shuffle_partitions` the session is `local[N]` with N
    shuffle partitions, N = $SPARK_GRAFT_CPUS or the cores this process may
    run on. The other configs are what we would ship to a 1000-executor
    cluster: AQE coalescing/skew-join on, Arrow for pandas UDF transport.
    The driver heap is 2 GB; `extra={"spark.driver.memory": ...}` or
    spark-submit's `--driver-memory` sets another.
    """
    cores = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(cores)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else cores

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-planning, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transport for pandas UDFs / mapInPandas (the only Python path).
        # 64k-row batches: the vectorized numpy kernels amortize per-batch
        # Arrow framing + Python dispatch — measured 30% on the 120M compute
        # scenario vs the old 10k default;
        # ~3 MB/batch/stream at these row widths, safe for any executor size.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Keep broadcast autodetection on; our dims (filters, admin polys) are tiny.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # 128MB splits — matches large-cluster defaults for 100TB scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle spill dir: the sandbox's /tmp is one shared block device,
        # which serializes concurrent shuffle writers (negative core-scaling);
        # a real cluster has per-node SSDs. tmpfs is the faithful local stand-in.
        .config("spark.local.dir", os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


_AQE = "spark.sql.adaptive.enabled"
# a CollectMetrics node (what DataFrame.observe adds) in a logical tree string
_OBSERVE = re.compile(r"^[\s:|+-]*CollectMetrics ", re.M)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize `df` once; the returned frame reads the stored rows.

    The engine pins a frame that its plan reads more than once. Unpinned,
    every reference re-runs the frame's whole upstream, Python UDF passes
    included (each duplicated ArrowEvalPython node executes), and a
    nondeterministic upstream (sampling, limit, range boundaries) can hand
    different rows to different readers. In a driver loop (the
    knn_join_cells rings) the pin also cuts the lineage, so plans do not
    compound round over round.

    A local checkpoint, not persist(): the CacheManager matches cached data
    by canonicalized plan, so a persisted frame would be silently reused by
    the next invocation of the same query (cross-run result reuse), and
    nothing would unpersist it. The checkpoint re-materializes per call.

    Eager (the default): the checkpoint job runs here, so an Observation
    attached just before the pin (`pin(df.observe(obs, ...))`) is complete
    when pin returns and costs no second job, and every reader sees the one
    materialization. The price is that an operator that pins runs a Spark
    job while its DataFrame is being built.

    Lazy (`eager=False`): the call runs no Spark job. The first job that
    reads the returned frame computes the pinned subplan and stores its
    blocks, and every later reader reads the stored blocks. This is how a
    frame that feeds several sinks (phash_dedup's keepers: the pyramid, the
    snapshot, the stats and the export) is computed once while building it
    runs no job. The subplan is planned with AQE off for the length of the
    call (an adaptive plan runs its shuffle stages as soon as the checkpoint
    asks for its RDD); the caller's setting is restored afterwards. A lazy
    pin over a plan that holds an `observe` raises ValueError: the metrics
    of an Observation inside a lazily checkpointed subplan are never
    reported to it (a downstream action sees zero rows).

    Caveats:
      * the blocks have no replica and the lineage is cut: a lost executor
        loses them, and jobs that read them fail instead of recomputing;
      * storage grows with the width of the pinned frame, and a pin stores
        every upstream column whatever its readers later select. Most pins
        are slim (id, key) proxies, but the ingest's first pin holds whole
        batch rows (text included) next to their band buckets, and
        phash_dedup's keepers are the whole surviving rows;
      * a lazy pin's subplan runs without AQE: no partition coalescing and
        no skew-join splitting inside it. The switch is session-wide, so a
        query that another thread plans during the call runs without AQE
        too;
      * the blocks are freed when the returned frame is garbage-collected,
        not when its last reader is done: the knn_join_cells rings pin one
        frame per round.
    """
    if eager:
        return df.localCheckpoint(eager=True)
    if _OBSERVE.search(df._jdf.queryExecution().analyzed().toString()):
        raise ValueError("pin(eager=False) over a frame that holds an observe(): "
                         "its Observation would report nothing; pin eagerly")
    conf = df.sparkSession.conf
    aqe = conf.get(_AQE)
    conf.set(_AQE, "false")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        conf.set(_AQE, aqe)
