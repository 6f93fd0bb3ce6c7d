"""Iceberg-shaped snapshot table layer over parquet (no Iceberg jars in env).

Gives the north rule's resume semantics: per-partition (bucket) checkpoints
with lineage + row counts, idempotent staged writes, and an atomic snapshot
commit — the Spark re-expression of the reference's ordered finalize()
(/root/reference/src/processing.rs:98-121): work lands bucket by bucket,
becomes visible only at the atomic CURRENT swap.

Layout:
  root/
    data/<job_id>/__bucket=<b>/*.parquet   job-scoped data (one Spark write
                                           with partitionBy — the input plan
                                           is scanned exactly ONCE)
    manifests/job-<job_id>/bucket-<b>.json per-partition done marker:
        {bucket, path, rows, bytes, files, finished_at}
    manifests/snapshot-<n>.json            committed snapshot (bucket list,
                                           each with its data path + totals)
    CURRENT                                latest snapshot number (atomic
                                           rename swap = visibility point)

Scale notes (the round-1 write path recomputed the upstream plan once per
bucket — n_buckets full scans of a 100 TB input):
  - The data lands in ONE Spark write with partitionBy(__bucket): one input
    scan.
  - By default a commit stages through repartitionByRange over
    (__bucket, sort_col) into defaultParallelism tasks, one per core: one
    sampling job, then within every bucket the part files are range-disjoint
    and internally sorted, so bucket order == file order == row order
    (ordered-archive, S5/W1). A task may write several buckets; sizing the
    write by buckets instead (16 tasks on 4 cores for `curate`'s 2,446
    keepers) costs a task and a part file per range for no parallelism.
  - `one_file_per_bucket=True` (compaction, and the incremental ingest's
    small per-batch commits) stages through repartition(n_buckets,
    __bucket) instead: no sampling job and one sorted file per bucket, but
    at most n_buckets write tasks. Bucket ids are hash-partitioned, so ids
    collide: 4 buckets land in 2 tasks, 8 in 5, 16 in 10. Callers choose it
    only where the fixed sampling job costs more than the parallelism.
  - Every snapshot manifest carries the committed job-id ledger, so a
    replay check opens the CURRENT manifest only, at any table age.
  - Row counts come from parquet FOOTER metadata (pyarrow), not a re-scan.
  - Every snapshot manifest records the committed schema, so a read hands
    it to the parquet reader and starts no footer-inference job (manifests
    without one fall back to inference).
  - Bucketing is RANGE by default when `key_max` is known (high key bits),
    so concatenated buckets are globally ordered by the cluster key;
    without `key_max` it falls back to hash (pmod) bucketing, which is
    balanced but not globally ordered — documented, not pretended.

Resume: re-running the same job_id (a) skips the Spark write if the staged
data dir is complete (_SUCCESS), (b) skips buckets whose marker exists. A
killed job leaves only the staging dir + markers; readers see nothing until
the CURRENT swap. Snapshots are immutable: each references job-scoped paths,
so a later snapshot never clobbers an earlier one's files (streaming
micro-batches commit with append=True and accumulate).
If the iceberg-spark-runtime jar is ever available, SnapshotTable's surface
(write_snapshot / read_current / resume / vacuum) maps 1:1 onto a real
Iceberg table.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import session


_SPEC_UNSET = object()  # distinguishes "caller passed nothing" from any value


class SnapshotTable:
    def __init__(self, root: str, n_buckets=_SPEC_UNSET, bucket_col=_SPEC_UNSET,
                 key_max=_SPEC_UNSET, key_min=_SPEC_UNSET):
        self.root = root
        os.makedirs(f"{root}/manifests", exist_ok=True)
        os.makedirs(f"{root}/data", exist_ok=True)
        # The bucket spec is TABLE metadata, not caller choice: _bucketed() is
        # recomputed on read-back during merge/compact rewrites, so a caller
        # opening the table with different params than the writer would filter
        # survivors by a DIFFERENT bucket function than the one that placed
        # them — rows landing outside `affected` silently vanish on rewrite.
        # The spec is therefore persisted at creation (TABLE.json) and loaded
        # on open; explicitly passing a conflicting value raises.
        passed = {"n_buckets": n_buckets, "bucket_col": bucket_col,
                  "key_max": key_max, "key_min": key_min}
        defaults = {"n_buckets": 16, "bucket_col": "tile_id",
                    "key_max": None, "key_min": 0}
        spec_path = f"{root}/TABLE.json"
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                spec = json.load(f)
            conflicts = {k: (v, spec[k]) for k, v in passed.items()
                         if v is not _SPEC_UNSET and v != spec[k]}
            if conflicts:
                raise ValueError(
                    f"bucket spec mismatch for existing table {root}: "
                    f"passed vs persisted {conflicts}; open with "
                    f"SnapshotTable({root!r}) and the persisted spec loads")
        else:
            spec = {k: (defaults[k] if v is _SPEC_UNSET else v)
                    for k, v in passed.items()}
            tmp = spec_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(spec, f)
            os.rename(tmp, spec_path)
        self.n_buckets = spec["n_buckets"]
        self.bucket_col = spec["bucket_col"]
        self.key_max = spec["key_max"]
        self.key_min = spec["key_min"]

    # -- bucket assignment ---------------------------------------------------
    def _bucketed(self, df: DataFrame) -> DataFrame:
        key = F.col(self.bucket_col)
        if self.key_max is not None:
            # range bucket over [key_min, key_max]: divide-before-multiply so
            # key * n_buckets never forms (ANSI int64 overflow for deep-zoom
            # tile ids), and shifting by key_min keeps every bucket usable
            # instead of leaving the sub-key_min prefix structurally empty.
            # Concatenating buckets 0..n-1 yields global cluster-key order.
            span = self.key_max - self.key_min + 1
            width = max(1, -(-span // self.n_buckets))  # ceil, python ints
            # integer DIV, not `/`: Spark's `/` is double division, and for
            # cluster keys above 2^53 (deep-zoom tile ids) float rounding can
            # shift boundary keys into the adjacent bucket — DIV forms no
            # multiply (overflow-safe) and stays integer-exact
            b = F.expr(
                f"CAST(((`{self.bucket_col}` - {self.key_min}) "
                f"DIV {width}) AS INT)")
            b = F.greatest(F.lit(0), F.least(F.lit(self.n_buckets - 1), b))
        else:
            b = F.pmod(key, F.lit(self.n_buckets)).cast("int")  # hash-style
        return df.withColumn("__bucket", b)

    def _committed_job_ids(self, snap: dict | None = None) -> set[str]:
        """Job ids committed up to `snap` (default: the current snapshot) —
        the durable replay ledger. Every manifest carries its predecessor's
        ledger plus its own job id (append, replace, merge and compact
        commits alike), so the lookup opens one manifest however old the
        table is. Manifests written before the ledger existed fall back to
        scanning every snapshot manifest."""
        snap = self.current_snapshot() if snap is None else snap
        if snap is None:
            return set()
        if "job_ids" in snap:
            return set(snap["job_ids"])
        out = set()
        for fn in os.listdir(f"{self.root}/manifests"):
            if fn.startswith("snapshot-") and fn.endswith(".json"):
                with open(f"{self.root}/manifests/{fn}") as f:
                    out.add(json.load(f)["job_id"])
        return out

    def _marker(self, job_id: str, b: int) -> str:
        return f"{self.root}/manifests/job-{job_id}/bucket-{b}.json"

    def _job_data_dir(self, job_id: str) -> str:
        return f"{self.root}/data/{job_id}"

    # -- write path ------------------------------------------------------------
    def write_snapshot(self, df: DataFrame, job_id: str, sort_col: str | None = None,
                       progress=None, append: bool = False,
                       one_file_per_bucket: bool = False) -> dict:
        """Stage all buckets in ONE Spark write, finalize per-bucket markers,
        then commit atomically. Returns the committed snapshot manifest.

        append=True commits the new buckets ON TOP of the current snapshot's
        (incremental ingest — streaming micro-batches); default replaces.
        one_file_per_bucket=True skips the range-sampling job and writes one
        file per bucket from at most n_buckets tasks (module Scale notes).
        The manifest records `df`'s schema for the readers.
        """
        os.makedirs(f"{self.root}/manifests/job-{job_id}", exist_ok=True)
        sort_col = sort_col or self.bucket_col
        data_dir = self._job_data_dir(job_id)

        if append:
            cur = self.current_snapshot()
            # replayed micro-batch: already committed, no-op. The check is by
            # COMMITTED JOB ID, not by path — compaction rewrites a batch's
            # paths out of the current snapshot, and a path-based check would
            # then re-append the batch's rows as duplicates on replay.
            if cur is not None and job_id in self._committed_job_ids(cur):
                return cur

        missing = [b for b in range(self.n_buckets)
                   if not os.path.exists(self._marker(job_id, b))]
        # Stale-marker guard: markers can outlive their staged data (e.g. a
        # vacuum(force=True) of a crashed job). Committing against them would
        # silently record empty/missing buckets — data loss with no error.
        # If any marker exists while the staged _SUCCESS is gone, drop ALL
        # markers and restage from the input plan (one Spark write, correct).
        if len(missing) < self.n_buckets and not os.path.exists(f"{data_dir}/_SUCCESS"):
            shutil.rmtree(f"{self.root}/manifests/job-{job_id}", ignore_errors=True)
            os.makedirs(f"{self.root}/manifests/job-{job_id}", exist_ok=True)
            missing = list(range(self.n_buckets))
        if missing:
            if not os.path.exists(f"{data_dir}/_SUCCESS"):
                self._stage(self._bucketed(df), data_dir, sort_col,
                            one_file_per_bucket)
            for b in missing:
                m = self._finalize_bucket(job_id, b)
                if progress:
                    progress(b, m)

        manifests = []
        for b in range(self.n_buckets):
            with open(self._marker(job_id, b)) as f:
                manifests.append(json.load(f))
        return self._commit(job_id, manifests, df.schema, append=append)

    def _stage(self, df: DataFrame, data_dir: str, sort_col: str,
               one_file_per_bucket: bool) -> None:
        """Write `df` (already __bucket-tagged) to data_dir/__bucket=<b>/ in
        ONE Spark write, every file sorted by (__bucket, sort_col): range-
        sampled by default, or hash-partitioned by bucket id (no sampling
        job, one file per bucket, at most n_buckets tasks) when
        `one_file_per_bucket` (module Scale notes)."""
        if one_file_per_bucket:
            staged = df.repartition(self.n_buckets, "__bucket")
        else:
            n_out = df.sparkSession.sparkContext.defaultParallelism
            staged = df.repartitionByRange(n_out, "__bucket", sort_col)
        (staged.sortWithinPartitions("__bucket", sort_col)
         .write.partitionBy("__bucket").mode("overwrite").parquet(data_dir))

    def _finalize_bucket(self, job_id: str, b: int) -> dict:
        """Derive the per-partition checkpoint from committed files: parquet
        footer row counts (metadata read, no data scan)."""
        import pyarrow.parquet as pq

        bdir = f"{self._job_data_dir(job_id)}/__bucket={b}"
        files = sorted(fn for fn in os.listdir(bdir)
                       if fn.endswith(".parquet")) if os.path.isdir(bdir) else []
        rows = sum(pq.ParquetFile(f"{bdir}/{fn}").metadata.num_rows for fn in files)
        m = {
            "bucket": b,
            "path": bdir,
            "rows": rows,
            "files": files,
            "bytes": sum(os.path.getsize(f"{bdir}/{fn}") for fn in files),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        mpath = self._marker(job_id, b)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.rename(tmp, mpath)  # atomic per-partition checkpoint
        return m

    def _commit(self, job_id: str, manifests: list[dict], schema: StructType,
                append: bool = False) -> dict:
        buckets = list(manifests)
        prev = self.current_snapshot()
        if append and prev is not None:
            buckets = prev["buckets"] + buckets
        n = self.current_snapshot_id() + 1
        snap = {
            "snapshot": n,
            "job_id": job_id,
            "job_ids": sorted(self._committed_job_ids(prev) | {job_id}),
            "append": append,
            # the data files' schema: the frame's columns without __bucket
            "schema": StructType([f for f in schema.fields
                                  if f.name != "__bucket"]).jsonValue(),
            "buckets": buckets,
            "total_rows": sum(m["rows"] for m in buckets),
            "total_bytes": sum(m["bytes"] for m in buckets),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        spath = f"{self.root}/manifests/snapshot-{n}.json"
        tmp = spath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1)
        os.rename(tmp, spath)
        ctmp = f"{self.root}/CURRENT.tmp"
        with open(ctmp, "w") as f:
            f.write(str(n))
        os.rename(ctmp, f"{self.root}/CURRENT")  # atomic visibility swap
        return snap

    # -- read path -------------------------------------------------------------
    def current_snapshot_id(self) -> int:
        try:
            with open(f"{self.root}/CURRENT") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def current_snapshot(self) -> dict | None:
        n = self.current_snapshot_id()
        if n == 0:
            return None
        with open(f"{self.root}/manifests/snapshot-{n}.json") as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int) -> dict:
        """Load a committed snapshot manifest by id (manifests are immutable)."""
        path = f"{self.root}/manifests/snapshot-{snapshot_id}.json"
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no snapshot {snapshot_id} at {self.root} "
                f"(latest: {self.current_snapshot_id()})")
        with open(path) as f:
            return json.load(f)

    def read_at(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Time-travel read: the table exactly as of `snapshot_id` (Iceberg
        `VERSION AS OF` analog). Works for any snapshot whose data files
        survive — append chains keep every referenced job dir alive through
        vacuum(); an OVERWRITE snapshot's predecessors lose their files to
        vacuum (expire-snapshots semantics) and then raise here."""
        snap = self.snapshot(snapshot_id)
        paths = [m["path"] for m in snap["buckets"] if m["files"]]
        if not paths:
            raise FileNotFoundError(f"snapshot {snapshot_id} has no data files")
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} data vacuumed: {missing[:3]}")
        return self._reader(spark, snap).parquet(*paths)

    @staticmethod
    def _reader(spark: SparkSession, snap: dict):
        """A parquet reader given the snapshot's recorded schema: reading
        then starts no footer-inference job. Manifests written before the
        schema was recorded infer it."""
        if "schema" not in snap:
            return spark.read
        return spark.read.schema(StructType.fromJson(snap["schema"]))

    def read_current(self, spark: SparkSession) -> DataFrame:
        n = self.current_snapshot_id()
        if n == 0:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        return self.read_at(spark, n)

    def lineage(self) -> list[dict]:
        """Per-partition lineage of the current snapshot (north rule metric)."""
        snap = self.current_snapshot()
        return snap["buckets"] if snap else []

    def read_diff(self, spark: SparkSession, from_id: int,
                  to_id: int | None = None) -> DataFrame:
        """Incremental read: rows added between snapshot `from_id` and
        `to_id` (default: current) — Iceberg incremental-scan analog, the
        shape an incremental dedup pipeline reads so it re-processes only
        what changed. Pure manifest set difference: data files are immutable
        and job-scoped, so 'new rows' == bucket entries whose paths appear
        in `to` but not in `from` — no data comparison, no scan of the old
        snapshot. from_id=0 diffs against the empty table. Along an append
        chain the result is exactly the appended batches; across an
        OVERWRITE or MERGE boundary it is the rewritten buckets' files
        (rewritten rows reappear — file-level, not row-level, diff: exact
        row-level diffs need a key, use merge_keys' key discipline
        upstream)."""
        to_id = self.current_snapshot_id() if to_id is None else to_id
        if from_id > to_id:
            raise ValueError(f"from_id {from_id} > to_id {to_id}")
        to_snap = self.snapshot(to_id)
        old_paths = set()
        if from_id > 0:
            old_paths = {m["path"] for m in self.snapshot(from_id)["buckets"]}
        new_paths = [m["path"] for m in to_snap["buckets"]
                     if m["files"] and m["path"] not in old_paths]
        if not new_paths:
            return self.read_at(spark, to_id).limit(0)
        missing = [p for p in new_paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(f"diff data vacuumed: {missing[:3]}")
        return self._reader(spark, to_snap).parquet(*new_paths)

    def read_diff_keys(self, spark: SparkSession, from_id: int, key_cols: list[str],
                       to_id: int | None = None) -> DataFrame:
        """Row-level incremental read: rows of `to` (default current) whose
        `key_cols` did NOT exist in snapshot `from_id` — the keyed diff an
        incremental consumer actually wants. read_diff() is file-level by
        design: a MERGE or compaction rewrites whole buckets, so unchanged
        rows in rewritten files reappear in its output. Here the file-level
        diff is anti-joined (null-safe, so NULL keys behave like merge_keys)
        against the `from` snapshot's key set, which removes exactly those
        reappearances. Cost: one scan of the new files + a key-projection
        scan of the old snapshot — the old snapshot reads only `key_cols`
        (column-pruned), never its payload. Requires the key discipline
        merge_keys enforces (a key maps to one row per snapshot); under that
        discipline this equals the true row-level diff."""
        to_id = self.current_snapshot_id() if to_id is None else to_id
        changed = self.read_diff(spark, from_id, to_id)
        if from_id == 0:
            return changed
        old_keys = (self.read_at(spark, from_id)
                    .select(*key_cols).distinct())
        cond = changed[key_cols[0]].eqNullSafe(old_keys[key_cols[0]])
        for c in key_cols[1:]:
            cond = cond & changed[c].eqNullSafe(old_keys[c])
        return changed.join(old_keys, cond, "left_anti")

    # -- merge / compact -------------------------------------------------------
    def _rewrite_buckets(self, df: DataFrame, job_id: str, affected: list[int],
                         sort_col: str, one_file_per_bucket: bool = False) -> dict:
        """Stage `df` (already __bucket-tagged, covering exactly the affected
        buckets), finalize markers for those buckets, and commit a snapshot
        that keeps every UNAFFECTED bucket entry from the current snapshot.
        The shared machinery under merge_keys and compact."""
        data_dir = self._job_data_dir(job_id)
        os.makedirs(f"{self.root}/manifests/job-{job_id}", exist_ok=True)
        if not os.path.exists(f"{data_dir}/_SUCCESS"):
            self._stage(df, data_dir, sort_col, one_file_per_bucket)
        new_entries = {b: self._finalize_bucket(job_id, b) for b in affected}
        cur = self.current_snapshot()
        kept = [m for m in (cur or {}).get("buckets", [])
                if m["bucket"] not in new_entries]
        buckets = sorted(kept + list(new_entries.values()),
                         key=lambda m: (m["bucket"], m["path"]))
        return self._commit(job_id, buckets, df.schema, append=False)

    def merge_keys(self, df: DataFrame, key_cols: list[str], job_id: str,
                   sort_col: str | None = None) -> dict:
        """Keyed MERGE (upsert): rows in `df` REPLACE current rows sharing
        their `key_cols` values; everything else is untouched — the Iceberg
        MERGE INTO analog an incremental dedup pipeline needs to upsert
        'seen' keys. Only buckets that receive new rows or contain colliding
        keys are rewritten; unaffected buckets keep their existing files
        (manifest reuse, zero IO). Replaying a committed job_id is a no-op.
        """
        cur = self.current_snapshot()
        if cur is None:
            return self.write_snapshot(df, job_id, sort_col=sort_col)
        if job_id in self._committed_job_ids(cur):
            return cur  # replayed merge: already committed
        spark = df.sparkSession
        sort_col = sort_col or self.bucket_col
        # pin the source batch: the merge evaluates it in several jobs
        # (affected-bucket scan, collision scan, rewrite), and a
        # nondeterministic input plan (limit/sample/rand) would otherwise
        # delete one key set and insert another — silent row loss. The batch
        # is the INCREMENT (small), not the table, so materializing is cheap.
        df = session.pin(df)
        # MERGE INTO semantics require a UNIQUE source key: two batch rows
        # sharing a key have no defined winner (Iceberg/Delta raise "multiple
        # source rows matched"), and silently inserting both would leave the
        # table with duplicate keys that the NEXT merge double-deletes.
        # NULLs count as matching NULLs here (groupBy) and in the joins below
        # (eqNullSafe), so a NULL-keyed upsert replaces prior NULL-keyed rows
        # instead of accreting beside them.
        dup = (df.groupBy(*key_cols).count().filter(F.col("count") > 1)
               .limit(1).collect())
        if dup:
            raise ValueError(
                f"merge_keys: batch has duplicate key {dup[0].asDict()} — "
                f"dedupe the source on {key_cols} first (no winner is "
                f"defined; real MERGE INTO errors on this too)")
        keys = df.select(*key_cols).distinct()
        new_b = self._bucketed(df)
        cur_b = self._bucketed(self.read_current(spark))

        def _null_safe_on(left: DataFrame):
            cond = left[key_cols[0]].eqNullSafe(keys[key_cols[0]])
            for c in key_cols[1:]:
                cond = cond & left[c].eqNullSafe(keys[c])
            return cond

        aff_new = {r["__bucket"] for r in
                   new_b.select("__bucket").distinct().collect()}
        aff_old = {r["__bucket"] for r in
                   cur_b.join(keys, _null_safe_on(cur_b), "left_semi")
                   .select("__bucket").distinct().collect()}
        affected = sorted(aff_new | aff_old)
        in_aff = cur_b.filter(F.col("__bucket").isin(affected))
        survivors = in_aff.join(keys, _null_safe_on(in_aff), "left_anti")
        merged = survivors.unionByName(new_b)
        return self._rewrite_buckets(merged, job_id, affected, sort_col)

    def compact(self, spark: SparkSession, job_id: str,
                target_files_per_bucket: int = 1,
                sort_col: str | None = None) -> dict:
        """Small-file compaction: rewrite every bucket holding more than
        `target_files_per_bucket` files (streaming appends accrete one file
        per micro-batch per bucket forever) into ONE sorted file per bucket;
        buckets already within target keep their existing files untouched.
        Rows, order, and per-bucket lineage totals are identical; the old
        snapshots stay time-travel readable until vacuum() expires their
        job dirs. Replaying a committed job_id is a no-op."""
        cur = self.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        if job_id in self._committed_job_ids(cur):
            return cur  # replayed compaction
        files_per_bucket: dict[int, int] = {}
        for m in cur["buckets"]:
            files_per_bucket[m["bucket"]] = (
                files_per_bucket.get(m["bucket"], 0) + len(m["files"]))
        affected = sorted(b for b, n in files_per_bucket.items()
                          if n > target_files_per_bucket)
        if not affected:
            return cur
        sort_col = sort_col or self.bucket_col
        cur_b = self._bucketed(self.read_current(spark))
        todo = cur_b.filter(F.col("__bucket").isin(affected))
        return self._rewrite_buckets(todo, job_id, affected, sort_col,
                                     one_file_per_bucket=True)

    def vacuum(self, force: bool = False) -> list[str]:
        """Delete job data dirs not referenced by the CURRENT snapshot
        (Iceberg expire-snapshots analog). Returns removed dirs.

        Job dirs with a manifests/job-<id> directory but no committed
        snapshot are in flight (staged or crashed mid-run): removing their
        data while markers survive would make a later resume commit empty
        buckets. They are SKIPPED unless force=True, which removes both the
        data dir and the marker dir so a resume restages from scratch.
        """
        snap = self.current_snapshot()
        live = {os.path.dirname(m["path"]) for m in (snap or {}).get("buckets", [])}
        committed_jobs = self._committed_job_ids(snap)
        removed = []
        for d in sorted(os.listdir(f"{self.root}/data")):
            full = f"{self.root}/data/{d}"
            if not os.path.isdir(full) or full in live:
                continue
            in_flight = (os.path.isdir(f"{self.root}/manifests/job-{d}")
                         and d not in committed_jobs)
            if in_flight and not force:
                continue
            shutil.rmtree(full)
            if in_flight:
                shutil.rmtree(f"{self.root}/manifests/job-{d}", ignore_errors=True)
            removed.append(full)
        return removed
