"""`neardup_ingest`: a fixed sequence of caption batches, each committed
through `incremental_neardup_ingest` into append-mode `docs` and `bands`
SnapshotTables, with `read_current` between batches. One op is one
batch commit.

Batches carry planted near-duplicates (a copy of an earlier caption with a
few letters changed) of captions in the same batch and in earlier batches,
and chains (a near-duplicate of an earlier near-duplicate). The generator
re-derives the LSH collision graph in numpy from the documented minhash
family and keeps re-drawing until that graph is exactly the planted one, so
the kept set the check expects is the set of fresh captions.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np

from . import common as C

NUM_HASHES, BANDS, SHINGLE = 16, 8, 5
P31, GOLD = 2147483647, 2654435761
TEXT_LEN = 240
SIZES = {"full": (8, 150), "tiny": (3, 40)}   # (batches, rows per batch)
WARMUP_BATCHES = 2
KINDS = ("fresh", "dup_in_batch", "dup_cross_batch", "chain")
KIND_P = (0.7, 0.1, 0.12, 0.08)


def band_buckets(text: str) -> set[int]:
    """The LSH band buckets of one text under the minhash family the plan
    uses (mod-P shingle hashes, affine mins, Horner fold per band)."""
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


def kept_ids(batches: list[list[tuple[int, str]]]) -> set[int]:
    """First-seen-wins incremental dedup over the LSH collision graph."""
    index: dict[int, int] = {}          # bucket -> min representative id
    kept: set[int] = set()
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
        buckets = {i: band_buckets(t) for i, t in batch}
        for i, bs in buckets.items():
            find(i)
            for bk in bs:
                if bk in index:
                    union(i, index[bk])
                if bk in owner:
                    union(i, owner[bk])
                else:
                    owner[bk] = i
        for i, bs in buckets.items():
            rep = find(i)
            if rep == i:
                kept.add(i)
            for bk in bs:
                index[bk] = min(index.get(bk, rep), rep)
    return kept


class NeardupIngest(C.Workload):
    name = "neardup_ingest"
    row_unit = "batch rows"
    warmup_ops = WARMUP_BATCHES

    def __init__(self, size, seed, work_dir):
        super().__init__(size, seed, work_dir)
        self.n_batches, self.batch_rows = SIZES[size]
        self.batch_paths: list[str] = []
        self.fresh: list[set[int]] = []      # planted fresh ids per batch
        self._base: dict[str, int] = {}
        self._tables: dict[str, tuple] = {}

    # -- input -----------------------------------------------------------------
    def _captions(self, rng) -> tuple[list[list[tuple[int, str]]], set[int]]:
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))

        def fresh() -> str:
            chars = letters[rng.integers(0, 26, TEXT_LEN)]
            chars[rng.random(TEXT_LEN) < 0.16] = " "
            return "".join(chars)

        def variant(text: str) -> str:
            chars = list(text)
            for pos in rng.choice(TEXT_LEN, size=2, replace=False):
                chars[pos] = letters[(letters.tolist().index(chars[pos]) + 1) % 26] \
                    if chars[pos] != " " else "q"
            return "".join(chars)

        # every batch plants the same number of each kind, in seeded order
        # with a fresh caption first; so every seed keeps (and commits) the
        # same number of rows per batch
        counts = [round(p * self.batch_rows) for p in KIND_P]
        counts[0] = self.batch_rows - sum(counts[1:])
        batches, planted_fresh, texts, dups = [], set(), {}, []
        doc_id = 0
        for bi in range(self.n_batches):
            batch, batch_fresh = [], []
            kinds = rng.permutation(np.repeat(np.arange(len(KINDS)), counts))
            first = int(np.flatnonzero(kinds == 0)[0])
            kinds[[0, first]] = kinds[[first, 0]]
            for kind in (KINDS[j] for j in kinds):
                if kind == "dup_cross_batch" and bi:
                    earlier = sorted(i for i in planted_fresh if i not in batch_fresh)
                    text = variant(texts[earlier[rng.integers(len(earlier))]])
                elif kind == "chain" and dups:
                    text = variant(texts[dups[rng.integers(len(dups))]])
                elif kind != "fresh":
                    # a cross-batch copy or chain with nothing earlier to
                    # copy stays a near-duplicate, of this batch's captions
                    kind = "dup_in_batch"
                    text = variant(texts[batch_fresh[rng.integers(len(batch_fresh))]])
                else:
                    text = fresh()
                texts[doc_id] = text
                if kind == "fresh":
                    planted_fresh.add(doc_id)
                    batch_fresh.append(doc_id)
                else:
                    dups.append(doc_id)
                batch.append((doc_id, text))
                doc_id += 1
            batches.append(batch)
        return batches, planted_fresh

    def generate(self, spark, rep: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        for attempt in range(20):
            rng = np.random.default_rng([self.seed, attempt])
            batches, planted = self._captions(rng)
            if kept_ids(batches) == planted:
                break
        else:
            raise RuntimeError("no caption sequence matched its planted graph")
        self.fresh = [{i for i, _ in batch if i in planted} for batch in batches]
        root = C.fresh_dir(os.path.join(self.work, "batches"))
        self.batch_paths = []
        for i, batch in enumerate(batches):
            path = os.path.join(root, f"batch-{i:03d}.parquet")
            ids, texts = zip(*batch)
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                     "text": pa.array(texts, pa.string())}), path)
            self.batch_paths.append(path)

    # -- op ------------------------------------------------------------------
    def op(self, spark, k: int, tracer) -> dict:
        """Ingest the next batch of the sequence, then read the table back.

        Ops walk the batch sequence into one pair of tables and start fresh
        tables after the last batch. Warm-up ops (k < 0) and traced ops each
        walk a sequence of their own, so every series starts at batch 0."""
        from mvt_wrangler_spark.plans import incremental
        from mvt_wrangler_spark.sources.catalog import SnapshotTable

        series = "warm" if k < 0 else ("traced" if tracer.enabled else "timed")
        base = self._base.setdefault(series, k)
        pos = abs(k - base)
        i, seq = pos % self.n_batches, pos // self.n_batches
        if i == 0:
            root = C.fresh_dir(os.path.join(self.work, f"{series}-{seq}"))
            self._tables[series] = (
                SnapshotTable(os.path.join(root, "docs"), n_buckets=4,
                              bucket_col="doc_id"),
                SnapshotTable(os.path.join(root, "bands"), n_buckets=4,
                              bucket_col="bucket"))
        docs, bands = self._tables[series]
        bytes_before = _total_bytes(docs, bands)
        batch = spark.read.parquet(self.batch_paths[i])
        with _spans(tracer, k) as counts:
            t0 = C.now()
            with tracer.span(k, "incremental"):
                res = incremental.incremental_neardup_ingest(
                    spark, docs, bands, batch, job_id=f"batch-{i}",
                    num_hashes=NUM_HASHES, bands_n=BANDS, shingle=SHINGLE)
            latency = C.now() - t0
            with tracer.span(k, "catalog", "read"):
                current = docs.read_current(spark).count()
        snaps = [docs.current_snapshot(), bands.current_snapshot()]
        table_bytes = _total_bytes(docs, bands)
        return dict(
            res, **counts, k=k, i=i, docs=docs, current_rows=current,
            rows=res["batch_rows"], latencies=[latency],
            # what this batch's two commits added; the tables' total grows
            # with their age and so with how many batches a run reaches
            output_bytes=table_bytes - bytes_before, table_bytes=table_bytes,
            files=sum(len(m["files"]) for s in snaps for m in s["buckets"]),
            snapshots=sum(t.current_snapshot_id() for t in (docs, bands)))

    # -- check ---------------------------------------------------------------
    def check(self, spark, rec: dict, corrupt: bool = False) -> bool:
        """The batch kept exactly its planted fresh captions, and the table
        read back holds exactly the fresh captions of batches 0..i."""
        import pyarrow.parquet as pq

        i = rec["i"]
        want = set().union(*self.fresh[:i + 1])
        if rec["kept"] != len(self.fresh[i]) or rec["current_rows"] != len(want):
            return False
        if rec["docs"].current_snapshot()["snapshot"] != i + 1:
            return True     # a later batch changed the table; checked there
        snap = rec["docs"].current_snapshot()
        paths = [os.path.join(m["path"], fn)
                 for m in snap["buckets"] for fn in m["files"]]
        if corrupt:
            os.remove(max(paths, key=os.path.getsize))
        ids: list[int] = []
        for p in paths:
            if not os.path.exists(p):
                return False
            ids += pq.read_table(p, columns=["doc_id"]).column("doc_id").to_pylist()
        return len(ids) == len(set(ids)) and set(ids) == want

    # -- per-layer ------------------------------------------------------------
    def layer_metrics(self, tracer, traced, stats) -> dict:
        batches = traced

        def med(fn):
            return C.median([fn(b) for b in batches])

        pairs = sum(b["candidate_pairs"] for b in batches)
        return {
            "incremental.batch_s": med(lambda b: tracer.self_time(b["k"], "incremental")),
            "dedup.self_s": med(lambda b: tracer.self_time(b["k"], "dedup")),
            "dedup.rows_in": med(lambda b: b["batch_rows"]),
            "dedup.rows_out": med(lambda b: b["kept"]),
            "dedup.candidate_pairs": med(lambda b: b["candidate_pairs"]),
            "dedup.pair_yield": (sum(b["dropped"] for b in batches) / pairs
                                 if pairs else 0.0),
            "catalog.commit_s": med(lambda b: tracer.self_time(b["k"], "commit")),
            "catalog.read_s": med(lambda b: tracer.self_time(b["k"], "read")),
            "catalog.snapshots": traced[-1]["snapshots"],
            "catalog.files": traced[-1]["files"],
            "catalog.bytes": traced[-1]["table_bytes"],
        }


def _total_bytes(*tables) -> int:
    snaps = [t.current_snapshot() for t in tables]
    return sum(s["total_bytes"] for s in snaps if s is not None)


@contextmanager
def _spans(tracer, b: int):
    """While tracing, wrap the layer calls the incremental plan makes: the
    pair closure (the dedup span, which also counts its candidate pairs) and
    each snapshot commit (the catalog span)."""
    counts = {"candidate_pairs": 0}
    if not tracer.enabled:
        yield counts
        return
    from mvt_wrangler_spark.plans import incremental
    from mvt_wrangler_spark.sources.catalog import SnapshotTable

    closure, commit = incremental.pair_clusters, SnapshotTable.write_snapshot

    def traced_closure(pairs, *a, **kw):
        with tracer.span(b, "dedup"):
            counts["candidate_pairs"] += pairs.count()
            return closure(pairs, *a, **kw)

    def traced_commit(self, *a, **kw):
        with tracer.span(b, "catalog", "commit"):
            return commit(self, *a, **kw)

    incremental.pair_clusters = traced_closure
    SnapshotTable.write_snapshot = traced_commit
    try:
        yield counts
    finally:
        incremental.pair_clusters = closure
        SnapshotTable.write_snapshot = commit
