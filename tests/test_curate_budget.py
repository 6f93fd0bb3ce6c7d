"""Job budget of one curate-shaped op: the library calls of the benchmark's
`curate` workload (perfbench/curate.py) on 400 rows.

phash_dedup lazily pins the keepers, so the pyramid, snapshot, stats and
export sinks share one computation of the upstream (scan, tiling, the cell
and PIP Python passes, filters, the dedup window), and write_pmtiles runs
its input once in one Spark write. A sink that stops reading the pin shows
up here as a parquet scan or an ArrowEvalPython node in its executed plan;
a re-added action or a second export pass shows up in the job counts."""

from __future__ import annotations

import os

import pytest

Z = 10
MAX_OP_JOBS = 16          # 27 before the keepers were pinned
MAX_EXPORT_JOBS = 3       # 12 with the range-sampled toLocalIterator export
# `.sql()` length of the fixture program's analyzed feature and tag
# predicates before the filter compiler folded literal kinds
UNFOLDED_FEATURE_SQL, UNFOLDED_TAG_SQL = 3420, 13477


class _Jobs:
    """Spark jobs and SQL executions started by `jobs.run(name, fn, ...)`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.executions: dict[str, list] = {}

    def _execution_ids(self) -> set[int]:
        self.bus.waitUntilEmpty()
        lst = self.store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    def run(self, name, fn, *args, **kwargs):
        before = self._execution_ids()
        self.sc.setJobGroup(name, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.executions[name] = sorted(self._execution_ids() - before)

    def jobs(self, name) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))

    def stage_tasks(self, name) -> dict[int, int]:
        """Stage id -> (task count, name) over the jobs of `name`."""
        st = self.sc.statusTracker()
        return {sid: (st.getStageInfo(sid).numTasks, st.getStageInfo(sid).name)
                for jid in st.getJobIdsForGroup(name)
                for sid in st.getJobInfo(jid).stageIds}

    def node_names(self, name) -> list[str]:
        names = []
        for eid in self.executions[name]:
            nodes = self.store.planGraph(eid).allNodes()
            names += [nodes.apply(j).name() for j in range(nodes.size())]
        return names


def _masked(spark, images):
    """The curate workload's lazy chain up to the filter program's input."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import cells, geometry as G, tiling
    from mvt_wrangler_spark.operators import filters, joins
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog = filters.FilterProgram.from_geojson(default_filter_geojson())
    admin = [(f"adm{i}{j}", G.Polygon([[x, y], [x + 90, y], [x + 90, y + 85],
                                        [x, y + 85]]))
             for i, x in enumerate(range(-180, 180, 90))
             for j, y in enumerate((-85, 0))]
    assigned = cells.with_cells(tiling.assign_tiles(images, z=Z), lat="lat", lng="lon")
    joined = joins.broadcast_pip_join(spark, assigned, admin)
    return prog, joined.withColumn(
        "filter_mask", filters.filter_mask_native(prog, F.col("lon"), F.col("lat")))


def _curate_frames(spark, images):
    """The curate workload's lazy chain, up to the four sinks' inputs."""
    from mvt_wrangler_spark.operators import dedup, filters, rollup

    prog, masked = _masked(spark, images)
    surv = filters.apply_tag_filter(filters.apply_feature_filter(masked, prog), prog)
    deduped = dedup.phash_dedup(surv)
    stats = rollup.tile_stats(deduped, n_salt=8, salt_col="image_id")
    pyramid = rollup.pyramid_rollup(
        stats.select("z", "x", "y", "n_rows", "bytes_in"), base_z=Z, min_z=0)
    return deduped, stats, pyramid


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    from mvt_wrangler_spark.sources.images import synthetic_images

    path = str(tmp_path_factory.mktemp("curate") / "images")
    synthetic_images(spark, 400, seed=7, partitions=4).write.parquet(path)
    return path


def _images(jobs, spark, path):
    # the parquet reader infers the schema with a footer job
    return jobs.run("read", spark.read.parquet, path)


@pytest.mark.spark
def test_building_the_curate_frames_runs_no_job(spark, images_path):
    """The keepers' pin is lazy, and the pyramid needs no pin."""
    jobs = _Jobs(spark)
    images = _images(jobs, spark, images_path)
    _, _, pyramid = jobs.run("curate-build", _curate_frames, spark, images)
    assert jobs.jobs("curate-build") == 0
    assert pyramid.filter("z = 0").collect()[0].n_rows > 0


@pytest.mark.spark
def test_curate_op_job_budget(spark, images_path, tmp_path):
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators.tile_encode import encode_tiles
    from mvt_wrangler_spark.sources.catalog import SnapshotTable
    from mvt_wrangler_spark.sources.pmtiles import PMTilesReader, write_pmtiles

    out = str(tmp_path)
    jobs = _Jobs(spark)
    images = _images(jobs, spark, images_path)
    deduped, stats, pyramid = jobs.run("build", _curate_frames, spark, images)
    table = SnapshotTable(os.path.join(out, "table"), n_buckets=16,
                          key_max=tiling._zoom_acc(Z + 1) - 1,
                          key_min=tiling._zoom_acc(Z))
    snap = jobs.run("snapshot", table.write_snapshot, deduped, job_id="c-0",
                    sort_col="tile_id")
    jobs.run("stats", stats.write.parquet, os.path.join(out, "stats"))
    jobs.run("pyramid", pyramid.write.parquet, os.path.join(out, "pyramid"))
    archive = os.path.join(out, "tiles.pmtiles")
    pm = jobs.run("export", write_pmtiles, encode_tiles(deduped), archive,
                  metadata={"name": "curate"}, leaf_size=256)

    # the sinks agree: every keeper is in the snapshot, the stats and the
    # archive, and the export's part files are gone
    n = snap["total_rows"]
    assert n > 0
    assert spark.read.parquet(os.path.join(out, "stats")).agg(
        {"n_rows": "sum"}).collect()[0][0] == n
    assert pm["tiles"] == len(PMTilesReader(archive).tile_ids()) > 0
    assert sorted(os.listdir(out)) == ["pyramid", "stats", "table", "tiles.pmtiles"]

    per_sink = {s: jobs.jobs(s) for s in
                ("read", "build", "snapshot", "stats", "pyramid", "export")}
    assert per_sink["build"] == 0, per_sink
    assert per_sink["export"] <= MAX_EXPORT_JOBS, per_sink
    assert sum(per_sink.values()) <= MAX_OP_JOBS, per_sink
    for sink in ("snapshot", "stats", "export"):
        names = jobs.node_names(sink)
        assert names, sink
        assert "ArrowEvalPython" not in names, (sink, names)
        assert not any(n.startswith("Scan parquet") for n in names), (sink, names)


@pytest.mark.spark
def test_pyramid_files_do_not_depend_on_shuffle_partitions(spark, images_path, tmp_path):
    """The pyramid is at most 4^Z * 4/3 rows, so its file count must not
    follow spark.sql.shuffle.partitions (one file per partition would be 200
    small files at Spark's default), and building it still runs no job."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import rollup

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    files, rows = {}, {}
    jobs = _Jobs(spark)
    try:
        for n in (4, 16):
            spark.conf.set(key, str(n))
            stats = rollup.tile_stats(
                tiling.assign_tiles(spark.read.parquet(images_path), z=Z),
                n_salt=8, salt_col="image_id")
            pyramid = jobs.run(f"pyramid-build-{n}", rollup.pyramid_rollup,
                               stats.select("z", "x", "y", "n_rows", "bytes_in"),
                               base_z=Z, min_z=0)
            assert jobs.jobs(f"pyramid-build-{n}") == 0
            path = str(tmp_path / f"pyramid-{n}")
            pyramid.write.parquet(path)
            files[n] = [f for f in os.listdir(path) if f.endswith(".parquet")]
            rows[n] = sorted(spark.read.parquet(path).collect())
    finally:
        spark.conf.set(key, prev)
    assert len(files[4]) == len(files[16]), files
    assert rows[4] == rows[16] and rows[4][0].z == 0


@pytest.mark.spark
def test_curate_sinks_run_one_task_per_core(spark, images_path, tmp_path):
    """The snapshot's staged write and the export's encoder are sized by
    cores: no stage of either sink runs more than defaultParallelism tasks
    (16 and 8 on 4 cores when they were sized by buckets and by a floor of
    8). Shuffle partitions follow the session default, one per core."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators.tile_encode import encode_tiles
    from mvt_wrangler_spark.sources.catalog import SnapshotTable
    from mvt_wrangler_spark.sources.pmtiles import write_pmtiles

    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(cores))
    try:
        jobs = _Jobs(spark)
        deduped, _, _ = _curate_frames(spark, spark.read.parquet(images_path))
        table = SnapshotTable(str(tmp_path / "table"), n_buckets=16,
                              key_max=tiling._zoom_acc(Z + 1) - 1,
                              key_min=tiling._zoom_acc(Z))
        snap = jobs.run("cores-snapshot", table.write_snapshot, deduped,
                        job_id="c-0", sort_col="tile_id")
        jobs.run("cores-export", write_pmtiles, encode_tiles(deduped),
                 str(tmp_path / "tiles.pmtiles"), leaf_size=256)
    finally:
        spark.conf.set(key, prev)
    assert snap["total_rows"] > 0
    for sink in ("cores-snapshot", "cores-export"):
        tasks = jobs.stage_tasks(sink)
        assert tasks and max(t[0] for t in tasks.values()) <= cores, (sink, sorted(tasks.items()))


@pytest.mark.spark
def test_filter_predicates_fold_at_compile_time(spark, images_path):
    """The fixture program's feature and tag predicates analyze to at most a
    quarter of their unfolded size: no cascade branch for a kind a value
    cannot hold, no rule for a layer that falls back to the same constant."""
    from mvt_wrangler_spark.operators import filters

    prog, masked = _masked(spark, spark.read.parquet(images_path))
    feature = filters.apply_feature_filter(masked, prog)
    tag = filters.apply_tag_filter(masked, prog)
    feature_sql = feature._jdf.queryExecution().analyzed().condition().sql()
    cols = tag._jdf.queryExecution().analyzed().projectList()
    tag_sql = [cols.apply(j).child().sql() for j in range(cols.size())
               if cols.apply(j).name() == "tags"]
    assert len(tag_sql) == 1 and "map_filter" in tag_sql[0]
    assert len(feature_sql) <= UNFOLDED_FEATURE_SQL // 4, feature_sql
    assert len(tag_sql[0]) <= UNFOLDED_TAG_SQL // 4, tag_sql[0]
