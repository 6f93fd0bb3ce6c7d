"""Incremental near-dup ingest, per-batch plan and failure behaviour:
star edges against a first-seen model, a crash between the two commits,
and the batch's job / Python-pass budget."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest

from mvt_wrangler_spark.plans.incremental import incremental_neardup_ingest
from mvt_wrangler_spark.sources.catalog import SnapshotTable

NUM_HASHES, BANDS, SHINGLE = 16, 8, 5
KW = dict(num_hashes=NUM_HASHES, bands_n=BANDS, shingle=SHINGLE)
P31, GOLD = 2147483647, 2654435761
ALPHABET = np.array(list("abcdefgh "))
HOT = "the same boilerplate caption repeated by every crawler mirror"


def _band_buckets(text: str) -> set[int]:
    """Band buckets of one text, straight from the documented hash family
    (mod-P code-point shingle hashes, affine mins, Horner fold per band)."""
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    win = np.lib.stride_tricks.sliding_window_view(cp, SHINGLE)
    pows = np.array([pow(257, j, P31) for j in range(SHINGLE)], dtype=np.int64)
    sh = (win @ pows) % P31
    a = np.arange(NUM_HASHES, dtype=np.int64) * 2 + 1
    b = np.array([(i * GOLD + 7) % P31 for i in range(NUM_HASHES)], dtype=np.int64)
    width = NUM_HASHES // BANDS
    sig = ((sh[:, None] * a + b) % P31).min(axis=0).reshape(BANDS, width)
    folded = np.zeros(BANDS, dtype=np.int64)
    for t in range(width - 1, -1, -1):
        folded = (folded * 31 + sig[:, t]) % P31
    return {int(v) + (i << 31) for i, v in enumerate(folded)}


def _first_seen_model(batches: list[list[tuple[int, str]]]) -> list[set[int]]:
    """Kept ids per batch: one pass per batch, each row unioned with every
    earlier row sharing a bucket and with the bucket's committed min rep."""
    index: dict[int, int] = {}
    out = []
    for batch in batches:
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        def union(u, v):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)

        owner: dict[int, int] = {}
        buckets = {i: _band_buckets(t) for i, t in batch}
        for i, bs in buckets.items():
            find(i)
            for bk in bs:
                if bk in index:
                    union(i, index[bk])
                union(i, owner.setdefault(bk, i))
        kept = set()
        for i, bs in buckets.items():
            rep = find(i)
            if rep == i:
                kept.add(i)
            for bk in bs:
                index[bk] = min(index.get(bk, rep), rep)
        out.append(kept)
    return out


def _captions(plan: list[list[tuple[str, int]]]) -> list[list[tuple[int, str]]]:
    """Batches of (doc_id, text) from (kind, seed) rows: "fresh" random text,
    "near" a 2-letter edit of an earlier caption, "hot" the one boilerplate
    caption every hot bucket is made of."""
    texts: list[str] = []
    batches = []
    for rows in plan:
        batch = []
        for kind, seed in rows:
            rng = np.random.default_rng(seed)
            if kind == "hot":
                text = HOT
            elif kind == "near" and texts:
                chars = list(texts[seed % len(texts)])
                for pos in rng.choice(len(chars), size=2, replace=False):
                    chars[pos] = str(rng.choice(ALPHABET))
                text = "".join(chars)
            else:
                text = "".join(rng.choice(ALPHABET, 60))
            batch.append((len(texts), text))
            texts.append(text)
        batches.append(batch)
    return batches


def _tables(root: str) -> tuple[SnapshotTable, SnapshotTable]:
    return (SnapshotTable(f"{root}/docs", n_buckets=4, bucket_col="doc_id"),
            SnapshotTable(f"{root}/bands", n_buckets=4, bucket_col="bucket"))


def _ingest(spark, docs, bands, batch, job_id):
    df = spark.createDataFrame(batch, "doc_id long, text string")
    return incremental_neardup_ingest(spark, docs, bands, df, job_id=job_id, **KW)


def _doc_ids(spark, docs) -> list[int]:
    return [r.doc_id for r in docs.read_current(spark).select("doc_id").collect()]


@pytest.mark.spark
def test_star_edges_match_first_seen_model(spark):
    """Random captions with planted near-duplicates and forced-hot buckets
    (one caption repeated many times): the kept ids of every batch equal
    the one-pass first-seen model's."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    row = st.tuples(st.sampled_from(["fresh", "near", "hot"]),
                    st.integers(0, 2**32 - 1))
    plan = st.lists(st.lists(row, min_size=1, max_size=14), min_size=1,
                    max_size=3)

    @settings(max_examples=5, deadline=None, database=None)
    @given(plan, st.integers(0, 12))
    def check(plan, hot_copies):
        plan = [rows + [("hot", 0)] * hot_copies for rows in plan]
        batches = _captions(plan)
        want = _first_seen_model(batches)
        with tempfile.TemporaryDirectory() as root:
            docs, bands = _tables(root)
            for i, batch in enumerate(batches):
                res = _ingest(spark, docs, bands, batch, f"b{i}")
                assert res["batch_rows"] == len(batch)
                assert res["kept"] == len(want[i]), i
            assert sorted(_doc_ids(spark, docs)) == sorted(set().union(*want))

    check()


@pytest.mark.spark
def test_bands_commit_crash_replays_exactly_once(spark, tmp_path, monkeypatch):
    """The bands commit raises once after the docs commit landed; replaying
    the same job_id returns the uninterrupted run's counts and commits each
    table exactly once."""
    batches = _captions([[("fresh", s) for s in range(6)],
                         [("near", 0), ("fresh", 7), ("near", 2), ("hot", 0),
                          ("hot", 0), ("near", 1)]])

    ref_docs, ref_bands = _tables(str(tmp_path / "ref"))
    for i, batch in enumerate(batches):
        want = _ingest(spark, ref_docs, ref_bands, batch, f"b{i}")
    assert want["dropped"] > 0

    docs, bands = _tables(str(tmp_path / "crash"))
    _ingest(spark, docs, bands, batches[0], "b0")
    commit, crashed = bands._commit, []

    def crash_once(*a, **kw):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash in the bands commit")
        return commit(*a, **kw)

    monkeypatch.setattr(bands, "_commit", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        _ingest(spark, docs, bands, batches[1], "b1")
    assert (docs.current_snapshot_id(), bands.current_snapshot_id()) == (2, 1)

    got = _ingest(spark, docs, bands, batches[1], "b1")
    assert (got["batch_rows"], got["kept"], got["dropped"]) == \
        (want["batch_rows"], want["kept"], want["dropped"])
    assert docs.current_snapshot()["job_ids"] == ["b0", "b1"]
    assert bands.current_snapshot()["job_ids"] == ["b0-bands", "b1-bands"]
    ids = _doc_ids(spark, docs)
    assert len(ids) == len(set(ids))
    assert sorted(ids) == sorted(_doc_ids(spark, ref_docs))


@pytest.mark.spark
def test_batch_job_and_python_pass_budget(spark, tmp_path):
    """Each batch runs one minhash pass (exactly one ArrowEvalPython node
    over all of its plans), at most four SQL executions (the batch pin, the
    keeper pin with the pair_clusters closure inside it, and the two
    commits) and a bounded job count — a re-added count(), an eager step in
    the closure or a second minhash pass fails here."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def executions() -> dict:
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return {e.executionId(): e for e in (lst.apply(i) for i in range(lst.size()))}

    batches = _captions([[("fresh", s) for s in range(34)]
                         + [("near", s) for s in range(6)],
                         [("near", s) for s in range(10, 20)]
                         + [("fresh", s) for s in range(100, 130)]])
    docs, bands = _tables(str(tmp_path))
    for i, batch in enumerate(batches):
        assert len(batch) == 40
        before = set(executions())
        group = f"ingest-budget-{i}"
        sc.setJobGroup(group, group)
        try:
            _ingest(spark, docs, bands, batch, f"b{i}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        new = [e for k, e in executions().items() if k not in before]
        python_passes = 0
        for e in new:
            nodes = store.planGraph(e.executionId()).allNodes()
            python_passes += sum(nodes.apply(j).name() == "ArrowEvalPython"
                                 for j in range(nodes.size()))
        # minhash passes only: the closure is a MapInArrow node
        assert python_passes == 1, i
        assert len(new) <= 4, (i, len(new))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= 11, (i, jobs)
