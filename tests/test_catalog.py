"""Checkpoint/resume: kill mid-finalize, resume, identical committed output.

Also: single-input-scan staging, range bucketing (global order across
concatenated buckets), append snapshots (streaming ingest), vacuum.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.sources.catalog import SnapshotTable

ROOT = "/tmp/spark_graft_test_catalog"


@pytest.fixture()
def table():
    shutil.rmtree(ROOT, ignore_errors=True)
    yield SnapshotTable(ROOT, n_buckets=6, bucket_col="tile_id")
    shutil.rmtree(ROOT, ignore_errors=True)


def _df(spark):
    return spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 37 % 997).alias("tile_id"),
        (F.col("id") % 11).alias("v"))


@pytest.mark.spark
def test_kill_resume_identical(spark, table):
    df = _df(spark)

    class Boom(RuntimeError):
        pass

    def bomb(b, m):
        if b == 2:
            raise Boom()  # simulate driver death after 3 finalized buckets

    with pytest.raises(Boom):
        table.write_snapshot(df, job_id="j1", progress=bomb)
    # no snapshot committed yet — readers see nothing
    assert table.current_snapshot() is None
    done = sorted(int(f.split("-")[1].split(".")[0])
                  for f in os.listdir(f"{ROOT}/manifests/job-j1"))
    assert done == [0, 1, 2]
    # staged data landed in ONE write (complete before any marker)
    assert os.path.exists(f"{ROOT}/data/j1/_SUCCESS")
    mtimes = {b: os.path.getmtime(f"{ROOT}/manifests/job-j1/bucket-{b}.json") for b in done}
    stage_mtime = os.path.getmtime(f"{ROOT}/data/j1/_SUCCESS")

    # resume: same job id — the Spark write is NOT re-run (staging complete),
    # finalized buckets skipped (markers untouched)
    snap = table.write_snapshot(df, job_id="j1")
    assert os.path.getmtime(f"{ROOT}/data/j1/_SUCCESS") == stage_mtime
    for b in done:
        assert os.path.getmtime(f"{ROOT}/manifests/job-j1/bucket-{b}.json") == mtimes[b]
    assert snap["total_rows"] == 5000
    assert len(snap["buckets"]) == 6

    got = table.read_current(spark)
    assert got.count() == 5000
    assert {r.id for r in got.select("id").collect()} == set(range(5000))

    # per-partition lineage (north rule): rows per bucket recorded
    lin = table.lineage()
    assert sum(m["rows"] for m in lin) == 5000
    assert all(m["files"] and m["bytes"] > 0 for m in lin)


@pytest.mark.spark
def test_range_bucketing_global_order(spark):
    shutil.rmtree(ROOT + "_rng", ignore_errors=True)
    try:
        t = SnapshotTable(ROOT + "_rng", n_buckets=4, bucket_col="tile_id", key_max=996)
        t.write_snapshot(_df(spark), job_id="r1", sort_col="tile_id")
        # concatenated bucket ranges are disjoint and ascending
        prev_max = -1
        for m in t.lineage():
            vals = [r.tile_id for r in
                    spark.read.parquet(m["path"]).select("tile_id").collect()]
            assert min(vals) > prev_max
            prev_max = max(vals)
        # within a bucket, file order == tile_id order (ordered archive)
        m = t.lineage()[1]
        for fn in m["files"]:
            import pyarrow.parquet as pq
            col = pq.read_table(f"{m['path']}/{fn}", columns=["tile_id"])["tile_id"].to_pylist()
            assert col == sorted(col)
    finally:
        shutil.rmtree(ROOT + "_rng", ignore_errors=True)


@pytest.mark.spark
def test_second_snapshot_supersedes(spark, table):
    table.write_snapshot(_df(spark), job_id="a")
    assert table.current_snapshot_id() == 1
    table.write_snapshot(_df(spark).filter(F.col("id") < 100), job_id="b")
    assert table.current_snapshot_id() == 2
    assert table.read_current(spark).count() == 100
    # snapshot 1's files are untouched (immutable snapshots) until vacuum
    assert os.path.isdir(f"{ROOT}/data/a")
    removed = table.vacuum()
    assert f"{ROOT}/data/a" in removed
    assert table.read_current(spark).count() == 100  # current data survives vacuum


@pytest.mark.spark
def test_append_snapshots_accumulate(spark, table):
    """Streaming micro-batch semantics: each batch appends, nothing clobbered."""
    table.write_snapshot(_df(spark).filter(F.col("id") < 2000),
                         job_id="stream-batch-0", append=True)
    table.write_snapshot(_df(spark).filter(F.col("id") >= 2000),
                         job_id="stream-batch-1", append=True)
    got = table.read_current(spark)
    assert got.count() == 5000
    assert {r.id for r in got.select("id").collect()} == set(range(5000))
    # replayed micro-batch (restart) is a no-op: same snapshot, no duplicates
    before = table.current_snapshot_id()
    table.write_snapshot(_df(spark).filter(F.col("id") >= 2000),
                         job_id="stream-batch-1", append=True)
    assert table.current_snapshot_id() == before
    assert table.read_current(spark).count() == 5000


@pytest.mark.spark
def test_vacuum_skips_in_flight_job(spark, table):
    """vacuum must not delete staged-but-uncommitted job data (crashed or
    in-flight): resuming after such a delete would commit empty buckets."""
    table.write_snapshot(_df(spark), job_id="committed")

    class Boom(RuntimeError):
        pass

    def bomb(b, m):
        if b == 2:
            raise Boom()

    with pytest.raises(Boom):
        table.write_snapshot(_df(spark).filter(F.col("id") < 1000),
                             job_id="crashed", progress=bomb)
    assert os.path.isdir(f"{ROOT}/data/crashed")

    # default vacuum: in-flight job survives
    removed = table.vacuum()
    assert f"{ROOT}/data/crashed" not in removed
    assert os.path.isdir(f"{ROOT}/data/crashed")
    # ... and the resume completes losslessly afterwards
    snap = table.write_snapshot(_df(spark).filter(F.col("id") < 1000), job_id="crashed")
    assert snap["total_rows"] == 1000

    # force vacuum of a fresh crashed job removes data AND markers together
    with pytest.raises(Boom):
        table.write_snapshot(_df(spark).filter(F.col("id") < 500),
                             job_id="crashed2", progress=bomb)
    removed = table.vacuum(force=True)
    assert f"{ROOT}/data/crashed2" in removed
    assert not os.path.isdir(f"{ROOT}/manifests/job-crashed2")
    # resume after force-vacuum restages from scratch (no empty-bucket commit)
    snap = table.write_snapshot(_df(spark).filter(F.col("id") < 500), job_id="crashed2")
    assert snap["total_rows"] == 500


@pytest.mark.spark
def test_stale_markers_force_restage(spark, table):
    """Markers without their staged data (e.g. data dir removed out-of-band)
    must trigger a full restage, never a commit of missing buckets."""
    class Boom(RuntimeError):
        pass

    def bomb(b, m):
        if b == 3:
            raise Boom()

    with pytest.raises(Boom):
        table.write_snapshot(_df(spark), job_id="s1", progress=bomb)
    shutil.rmtree(f"{ROOT}/data/s1")  # simulate out-of-band data loss
    snap = table.write_snapshot(_df(spark), job_id="s1")
    assert snap["total_rows"] == 5000
    assert table.read_current(spark).count() == 5000


@pytest.mark.spark
def test_deep_zoom_range_bucketing_no_overflow(spark):
    """Range bucketing at deep-zoom tile ids: key * n_buckets would overflow
    int64 (ANSI error) pre-fix; key_min keeps early buckets populated."""
    from mvt_wrangler_spark.functions.tiling import _zoom_acc

    z = 28
    lo, hi = _zoom_acc(z), _zoom_acc(z + 1) - 1
    root = ROOT + "_deep"
    shutil.rmtree(root, ignore_errors=True)
    try:
        t = SnapshotTable(root, n_buckets=8, bucket_col="tile_id",
                          key_max=hi, key_min=lo)
        step = (hi - lo) // 4000
        df = spark.range(0, 4000).select(
            F.col("id"), (F.lit(lo) + F.col("id") * F.lit(step)).alias("tile_id"))
        snap = t.write_snapshot(df, job_id="deep", sort_col="tile_id")
        assert snap["total_rows"] == 4000
        # keys spread across buckets (pre-fix: first ~1/4 structurally empty)
        nonempty = [m for m in t.lineage() if m["rows"] > 0]
        assert len(nonempty) >= 6
        prev_max = -1
        for m in t.lineage():
            if not m["files"]:
                continue
            vals = [r.tile_id for r in
                    spark.read.parquet(m["path"]).select("tile_id").collect()]
            assert min(vals) > prev_max
            prev_max = max(vals)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.spark
def test_time_travel_read_at(spark, table):
    """Iceberg VERSION AS OF analog: every committed snapshot stays readable
    as long as its data files survive; append chains keep all predecessors
    alive through vacuum; an overwrite + vacuum expires older snapshots."""
    table.write_snapshot(_df(spark).filter(F.col("id") < 2000),
                         job_id="tt-batch-0", append=True)
    first = table.current_snapshot_id()
    table.write_snapshot(_df(spark).filter(F.col("id") >= 2000),
                         job_id="tt-batch-1", append=True)
    assert table.current_snapshot_id() == first + 1
    assert table.read_at(spark, first).count() == 2000
    assert table.read_at(spark, first + 1).count() == 5000
    assert table.read_current(spark).count() == 5000
    # append chain: vacuum keeps every referenced job dir -> still readable
    table.vacuum()
    assert table.read_at(spark, first).count() == 2000
    # overwrite commit + vacuum expires the old snapshots' files
    table.write_snapshot(_df(spark).filter(F.col("id") < 500), job_id="tt-rewrite")
    table.vacuum()
    assert table.read_current(spark).count() == 500
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        table.read_at(spark, first)
    with pytest.raises(FileNotFoundError, match="no snapshot"):
        table.snapshot(99)

@pytest.mark.spark
def test_range_bucket_boundaries_integer_exact(spark):
    """Bucket boundaries above 2^53 are integer-exact (DIV, not double `/`):
    key = k*width - 1 must land in bucket k-1; double division rounds
    (k*width - 1)/width up to exactly k in float64 and mis-buckets it."""
    hi = (1 << 60) - 1
    root = ROOT + "_bnd"
    shutil.rmtree(root, ignore_errors=True)
    try:
        t = SnapshotTable(root, n_buckets=8, bucket_col="tile_id", key_max=hi)
        width = -(-(hi + 1) // 8)
        keys = [0, width - 1, width, 2 * width - 1, 2 * width,
                7 * width - 1, 7 * width, hi]
        df = spark.createDataFrame([(k,) for k in keys], "tile_id bigint")
        got = {r["tile_id"]: r["__bucket"] for r in t._bucketed(df).collect()}
        for k in keys:
            assert got[k] == min(7, k // width), k
    finally:
        shutil.rmtree(root, ignore_errors=True)

@pytest.mark.spark
def test_read_diff_returns_exactly_the_appended_batch(spark, table):
    b1 = spark.range(0, 300).select(
        F.col("id"), (F.col("id") * 37 % 997).alias("tile_id"))
    b2 = spark.range(300, 450).select(
        F.col("id"), (F.col("id") * 37 % 997).alias("tile_id"))
    table.write_snapshot(b1, job_id="d1", append=True)
    table.write_snapshot(b2, job_id="d2", append=True)

    # diff(1 -> 2) is exactly batch 2; diff(0 -> 1) is batch 1; self-diff empty
    got = {r.id for r in table.read_diff(spark, 1, 2).select("id").collect()}
    assert got == set(range(300, 450))
    got = {r.id for r in table.read_diff(spark, 0, 1).select("id").collect()}
    assert got == set(range(300))
    assert table.read_diff(spark, 2, 2).count() == 0
    assert table.read_diff(spark, 2).count() == 0  # default to_id = current
    with pytest.raises(ValueError):
        table.read_diff(spark, 2, 1)


@pytest.mark.spark
def test_merge_keys_upsert_matches_full_recompute(spark, table):
    # tile_id == id so bucket == id % 6 (hash bucketing): an upsert of
    # ids = 0 mod 6 touches ONLY bucket 0
    base = spark.range(0, 1000).select(
        F.col("id"), F.col("id").alias("tile_id"), F.lit("old").alias("tag"))
    table.write_snapshot(base, job_id="m0", sort_col="tile_id")
    pre_merge_id = table.current_snapshot_id()
    pre_paths = {m["bucket"]: m["path"] for m in table.lineage()}

    # upsert: overlapping keys 0..996 step 6 (rewritten) + new keys >= 1002
    up_ids = list(range(0, 1000, 6)) + list(range(1002, 1100, 6))
    upsert = spark.createDataFrame([(i, i, "new") for i in up_ids],
                                   "id long, tile_id long, tag string")
    snap = table.merge_keys(upsert, key_cols=["id"], job_id="m1",
                            sort_col="tile_id")
    assert snap["total_rows"] == 1000 + len(range(1002, 1100, 6))

    got = table.read_current(spark)
    tags = {r.id: r.tag for r in got.select("id", "tag").collect()}
    assert len(tags) == snap["total_rows"]
    assert all(tags[i] == "new" for i in up_ids)
    assert all(tags[i] == "old" for i in range(0, 1000) if i % 6)

    # unaffected buckets keep their ORIGINAL files (manifest reuse, zero IO)
    post_paths = {m["bucket"]: m["path"] for m in table.lineage()}
    untouched = [b for b in post_paths
                 if post_paths[b] == pre_paths.get(b)]
    rewritten = [b for b in post_paths if b not in untouched]
    assert rewritten and untouched, (rewritten, untouched)
    assert all(p.startswith(f"{ROOT}/data/m1/") for b, p in post_paths.items()
               if b in rewritten)

    assert rewritten == [0]

    # replayed merge is a no-op; time travel still sees the pre-merge table
    again = table.merge_keys(upsert, key_cols=["id"], job_id="m1")
    assert again["snapshot"] == snap["snapshot"]
    old = table.read_at(spark, pre_merge_id)
    assert old.count() == 1000
    assert {r.tag for r in old.select("tag").distinct().collect()} == {"old"}

    # vacuum keeps the base job dir (still referenced by unaffected buckets)
    removed = table.vacuum()
    assert removed == []
    assert table.read_at(spark, pre_merge_id).count() == 1000


@pytest.mark.spark
def test_compact_folds_appended_files(spark, table):
    for i in range(4):
        b = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") * 37 % 997).alias("tile_id"))
        table.write_snapshot(b, job_id=f"a{i}", append=True)
    pre_id = table.current_snapshot_id()
    files_per_bucket: dict[int, int] = {}
    for m in table.lineage():
        files_per_bucket[m["bucket"]] = (
            files_per_bucket.get(m["bucket"], 0) + len(m["files"]))
    assert max(files_per_bucket.values()) > 1  # appends accreted files

    snap = table.compact(spark, job_id="c1")
    assert snap["total_rows"] == 400
    lin = table.lineage()
    assert len(lin) == len({m["bucket"] for m in lin})  # one entry per bucket
    assert all(len(m["files"]) <= 1 for m in lin)
    got = table.read_current(spark)
    assert {r.id for r in got.select("id").collect()} == set(range(400))

    # old snapshots stay time-travel readable until vacuum expires them
    assert table.read_at(spark, pre_id).count() == 400
    removed = table.vacuum()
    assert removed  # the per-batch job dirs are no longer referenced
    with pytest.raises(FileNotFoundError):
        table.read_at(spark, pre_id)
    # replayed compaction is a no-op; a second compact finds nothing to do
    assert table.compact(spark, job_id="c1")["snapshot"] == snap["snapshot"]
    assert table.compact(spark, job_id="c2")["snapshot"] == snap["snapshot"]


@pytest.mark.spark
def test_bucket_spec_persisted_and_conflicts_raise(spark, table):
    table.write_snapshot(_df(spark), job_id="s1")
    # opening with no params loads the persisted spec (the safe read path)
    opened = SnapshotTable(ROOT)
    assert (opened.n_buckets, opened.bucket_col) == (6, "tile_id")
    # matching explicit params are fine; conflicting ones raise instead of
    # silently rewriting survivors under a different bucket function
    SnapshotTable(ROOT, n_buckets=6, bucket_col="tile_id")
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        SnapshotTable(ROOT, n_buckets=4)
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        SnapshotTable(ROOT, bucket_col="id")
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        SnapshotTable(ROOT, key_max=123)


@pytest.mark.spark
def test_merge_keys_duplicate_batch_keys_raise(spark, table):
    base = spark.range(0, 100).select(
        F.col("id"), F.col("id").alias("tile_id"), F.lit("old").alias("tag"))
    table.write_snapshot(base, job_id="m0")
    dup = spark.createDataFrame([(5, 5, "a"), (5, 5, "b"), (7, 7, "c")],
                                "id long, tile_id long, tag string")
    with pytest.raises(ValueError, match="duplicate key"):
        table.merge_keys(dup, key_cols=["id"], job_id="mdup")
    # the failed merge committed nothing
    assert table.current_snapshot_id() == 1
    assert table.read_current(spark).count() == 100


@pytest.mark.spark
def test_merge_keys_null_keys_replace_not_accrete(spark):
    root = ROOT + "_null"
    shutil.rmtree(root, ignore_errors=True)
    try:
        t = SnapshotTable(root, n_buckets=4, bucket_col="tile_id")
        base = spark.createDataFrame(
            [(None, 1, "old-null"), (10, 2, "old-10"), (20, 3, "old-20")],
            "k long, tile_id long, tag string")
        t.write_snapshot(base, job_id="n0")
        up = spark.createDataFrame([(None, 5, "new-null"), (20, 6, "new-20")],
                                   "k long, tile_id long, tag string")
        t.merge_keys(up, key_cols=["k"], job_id="n1")
        got = {(r.k, r.tag) for r in
               t.read_current(spark).select("k", "tag").collect()}
        # NULL-keyed upsert REPLACED the prior NULL-key row (null-safe match)
        assert got == {(None, "new-null"), (10, "old-10"), (20, "new-20")}
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.spark
def test_read_diff_keys_across_merge_boundary(spark):
    root = ROOT + "_dk"
    shutil.rmtree(root, ignore_errors=True)
    try:
        t = SnapshotTable(root, n_buckets=4, bucket_col="tile_id")
        base = spark.range(0, 200).select(
            F.col("id"), F.col("id").alias("tile_id"), F.lit("old").alias("tag"))
        t.write_snapshot(base, job_id="b0")
        from_id = t.current_snapshot_id()

        # merge rewrites whole buckets: 2 updated keys + 3 genuinely new
        up_ids = [(8, "upd"), (12, "upd"), (1000, "new"), (1004, "new"),
                  (1008, "new")]
        up = spark.createDataFrame([(i, i, s) for i, s in up_ids],
                                   "id long, tile_id long, tag string")
        t.merge_keys(up, key_cols=["id"], job_id="b1")

        # file-level diff reshows every row of the rewritten buckets...
        file_diff = t.read_diff(spark, from_id)
        assert file_diff.count() > len(up_ids)
        # ...the keyed diff returns ONLY the genuinely-new keys
        got = {r.id for r in
               t.read_diff_keys(spark, from_id, ["id"]).select("id").collect()}
        assert got == {1000, 1004, 1008}
        # from_id=0 is the whole current table
        assert t.read_diff_keys(spark, 0, ["id"]).count() == 203
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.spark
def test_replay_ledger_reads_current_manifest_only(spark, table, monkeypatch):
    """Every manifest carries the committed job-id ledger: after 8 appends
    a replayed batch is a no-op, the lookup opens ONE snapshot manifest,
    and a compaction commit keeps the ledger. Manifests written before the
    ledger existed (no `job_ids` key) still make a replay a no-op, and the
    next commit carries every earlier job id forward."""
    import builtins

    from mvt_wrangler_spark.sources import catalog

    def batch(i):
        return spark.range(i * 50, (i + 1) * 50).select(
            F.col("id"), (F.col("id") * 37 % 997).alias("tile_id"))

    for i in range(8):
        table.write_snapshot(batch(i), job_id=f"a{i}", append=True)
    head = table.current_snapshot()
    assert head["job_ids"] == sorted(f"a{i}" for i in range(8))

    opened = []

    def counting_open(path, *a, **kw):
        if os.path.basename(str(path)).startswith("snapshot-"):
            opened.append(path)
        return builtins.open(path, *a, **kw)

    monkeypatch.setattr(catalog, "open", counting_open, raising=False)
    assert "a3" in table._committed_job_ids()
    assert len(opened) == 1
    monkeypatch.undo()

    assert table.write_snapshot(batch(3), job_id="a3", append=True) == head
    assert table.read_current(spark).count() == 400

    table.compact(spark, job_id="c1")
    assert table.write_snapshot(batch(3), job_id="a3", append=True)["job_id"] == "c1"
    assert table.read_current(spark).count() == 400

    mdir = f"{table.root}/manifests"
    for fn in os.listdir(mdir):
        if fn.startswith("snapshot-"):
            with open(f"{mdir}/{fn}") as f:
                snap = json.load(f)
            del snap["job_ids"]
            with open(f"{mdir}/{fn}", "w") as f:
                json.dump(snap, f)
    pre_ledger = table.current_snapshot()
    assert table.write_snapshot(batch(3), job_id="a3", append=True) == pre_ledger
    head = table.write_snapshot(batch(8), job_id="a8", append=True)
    assert head["job_ids"] == sorted([*(f"a{i}" for i in range(9)), "c1"])
    assert table.read_current(spark).count() == 450


def test_one_file_per_bucket_is_opt_in(spark):
    """A default commit, hash-bucketed or not, keeps its range-sampled write
    over defaultParallelism tasks, one per core; only an explicit
    one_file_per_bucket commit collapses each bucket to one file."""
    root = f"{ROOT}-opt-in"
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(root, n_buckets=2, bucket_col="tile_id")
    parallelism = spark.sparkContext.defaultParallelism
    assert parallelism > t.n_buckets
    try:
        snap = t.write_snapshot(_df(spark), job_id="ranged", append=True)
        assert sum(len(m["files"]) for m in snap["buckets"]) >= parallelism
        snap = t.write_snapshot(_df(spark), job_id="hashed", append=True,
                                one_file_per_bucket=True)
        assert [len(m["files"]) for m in snap["buckets"][2:]] == [1, 1]
        assert t.read_current(spark).count() == 10000
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.spark
def test_reads_carry_the_committed_schema(spark, table):
    """The manifest records the committed schema, so read_current, read_at
    and read_diff start no Spark job before an action (parquet schema
    inference runs a footer job per read). A manifest without a schema
    still reads, by inference."""
    sc = spark.sparkContext
    df = _df(spark).withColumn("tags", F.create_map(F.lit("k"), F.col("v").cast("string")))
    table.write_snapshot(df, job_id="a", append=True)
    snap = table.write_snapshot(df.limit(10), job_id="b", append=True)
    assert [f["name"] for f in snap["schema"]["fields"]] == ["id", "tile_id", "v", "tags"]

    def reads():
        return [table.read_current(spark), table.read_at(spark, 1),
                table.read_diff(spark, 1)]

    sc.setJobGroup("schema-reads", "schema-reads")
    try:
        frames = reads()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("schema-reads") == []
    inferred = spark.read.parquet(*[m["path"] for m in snap["buckets"] if m["files"]])
    assert all(f.schema == inferred.schema for f in frames)
    assert [f.count() for f in frames] == [5010, 5000, 10]

    path = f"{ROOT}/manifests/snapshot-2.json"
    with open(path) as fh:
        legacy = json.load(fh)
    del legacy["schema"]
    with open(path, "w") as fh:
        json.dump(legacy, fh)
    assert table.read_current(spark).schema == inferred.schema
    assert table.read_current(spark).count() == 5010
