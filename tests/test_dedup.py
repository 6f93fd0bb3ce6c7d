"""Near-dup operators (MinHash, pair_clusters) against their DuckDB twins
and brute-force oracles, including the hot-bucket cap under adversarial
(all-identical) input."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import dedup as D


@pytest.mark.spark
def test_minhash_hot_bucket_star_fallback(spark):
    """Adversarial: 10k identical docs would make one bucket emit ~50M pairs
    without the cap. With the star fallback the hot bucket emits LINEAR
    (rep, member) pairs — bounded output AND full recall inside the bucket
    (every duplicate stays connected to the representative)."""
    n_dup = 10_000
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n_dup)]
    rows += [(100000 + i, f"unique document number {i} with distinct words {i * 7}")
             for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_candidates(docs, max_bucket=100)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # bounded: linear in the hot-bucket size, nowhere near quadratic
    assert len(got) < 2 * n_dup
    # nonzero recall inside the hot bucket: every dup links to the rep (min id)
    star = {(a, b) for a, b in got if a == 0}
    assert star == {(0, i) for i in range(1, n_dup)}

    # DuckDB twin reproduces the exact same pair set (incl. the fallback)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows[:500])
        want = set(map(tuple, con.execute(
            D.minhash_lsh_sql(max_bucket=100)).fetchall()))
    finally:
        con.close()
    small = spark.createDataFrame(rows[:500], "doc_id long, text string")
    got_small = {(r.id_a, r.id_b) for r in
                 D.minhash_lsh_candidates(small, max_bucket=100).collect()}
    assert got_small == want

    # with a big-enough cap, identical docs DO pair up all-pairs
    tiny = spark.createDataFrame(rows[:20], "doc_id long, text string")
    assert D.minhash_lsh_candidates(tiny, max_bucket=1000).count() == 20 * 19 // 2


@pytest.mark.spark
def test_minhash_and_simhash_similarity_behavior(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river banks"),
            (3, "completely different content about spark shuffle partitioning"),
        ],
        "doc_id long, text string",
    )
    cand = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in cand and (1, 3) not in cand


@pytest.mark.spark
def test_minhash_wide_band_and_unicode_match_duckdb(spark):
    """Two ADVICE regressions in one oracle check: (a) band width >= 7 used
    to overflow int64 silently in numpy while DuckDB raised/diverged — the
    Horner fold keeps both in range and identical; (b) shingle hashes ran
    over UTF-8 bytes while DuckDB's ascii() is code points — non-ASCII docs
    diverged. Both engines must now agree bucket-for-bucket."""
    import duckdb

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "naïve café résumé — déjà vu über alles"),
        (3, "日本語のテキストを含む文書です タイル処理"),
        (4, "mixed ascii and 中文 characters with émojis ✨ in one doc"),
        (5, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for num_hashes, bands in ((16, 4), (32, 2)):  # widths 4 and 16 (>= 7 arm)
        got = {
            (r.doc_id, i, v)
            for r in docs.select(
                "doc_id",
                D.minhash_band_buckets(F.col("text"), num_hashes, bands).alias("b"),
            ).collect()
            for i, v in enumerate(r.b)
        }
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
            con.executemany("INSERT INTO d VALUES (?, ?)", rows)
            expr = D.minhash_buckets_sql_expr("text", num_hashes, bands)
            want = {
                (doc_id, i, v)
                for doc_id, lst in con.execute(
                    f"SELECT doc_id, {expr} FROM d").fetchall()
                for i, v in enumerate(lst)
            }
        finally:
            con.close()
        assert got == want, f"num_hashes={num_hashes} bands={bands}"


# ---------------------------------------------------------------------------
# pair_clusters: pairs -> connected components with min-id reps
# ---------------------------------------------------------------------------

def _clusters(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = D.pair_clusters(df).collect()
    return {r.member_id: (r.cluster_rep, r.cluster_size) for r in rows}


def _union_find(edges) -> list[tuple[int, int, int]]:
    """Reference closure: a dict union-find over the pair list, min id as
    the root; sorted (member_id, cluster_rep, cluster_size) rows."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            ru, rv = min(ru, rv), max(ru, rv)
            parent[rv] = ru
    reps = {m: find(m) for m in parent}
    sizes = Counter(reps.values())
    return sorted((m, r, sizes[r]) for m, r in reps.items())


def _duckdb_clusters(edges) -> list[tuple[int, int, int]]:
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE __pairs(id_a BIGINT, id_b BIGINT)")
    if edges:
        con.executemany("INSERT INTO __pairs VALUES (?, ?)", edges)
    return sorted(tuple(r) for r in con.execute(
        D.pair_clusters_sql("SELECT id_a, id_b FROM __pairs")).fetchall())


# Every id is shifted by ``base``: at base 0 the 10^5-node path's ids equal
# the kernel's node indices, so only a shifted run shows that the output maps
# indices back to ids.
ID_BASES = [0, 65536]


@pytest.mark.spark
@pytest.mark.parametrize("base", ID_BASES)
def test_pair_clusters_transitive_chain(spark, base):
    """Planted 3-chain: (a,b)+(b,c) with NO (a,c) pair must yield one
    cluster {a,b,c} with the min id as keeper."""
    a, b, c = base + 10, base + 20, base + 30
    got = _clusters(spark, [(a, b), (b, c)])
    assert got == {a: (a, 3), b: (a, 3), c: (a, 3)}


@pytest.mark.spark
@pytest.mark.parametrize("base", ID_BASES)
def test_pair_clusters_path_and_components(spark, base):
    """Adversarial path graphs (worst case for plain label propagation)
    plus disjoint components, reversed/duplicate/self-loop input rows; and
    a 10^5-node path whose ids are shuffled along it, so the union-find
    cannot follow the id order."""
    n = 33
    path = [(i + 1, i) for i in range(n - 1)]          # reversed orientation
    path += [(5, 6), (5, 6), (7, 7)]                   # dup + self-loop
    other = [(1000, 2000), (3000, 1000)]
    got = _clusters(spark, [(base + u, base + v) for u, v in path + other])
    for i in range(n):
        assert got[base + i] == (base, n), i
    for m in (1000, 2000, 3000):
        assert got[base + m] == (base + 1000, 3), m

    n = 100_000

    def shuffled(i):  # id of path node i: 7919 is prime to n, so a permutation
        return base + (i * 7919) % n

    big = spark.range(n - 1).select(shuffled(F.col("id")).alias("id_a"),
                                    shuffled(F.col("id") + 1).alias("id_b"))
    got = D.pair_clusters(big).toArrow()
    rows = sorted(zip(*(got.column(c).to_pylist() for c in range(3))))
    assert rows == [(base + i, base, n) for i in range(n)]
    pos = np.arange(n - 1)
    assert rows == _union_find(zip(shuffled(pos).tolist(), shuffled(pos + 1).tolist()))


@pytest.mark.spark
def test_pair_clusters_clique_through_star_fallback(spark):
    """300 identical texts through minhash_lsh_candidates with a tiny
    max_bucket: hot buckets emit only star pairs, and pair_clusters must
    still recover the single 300-member cluster with the min id as rep."""
    rows = [(i, "the same caption copied across the whole batch") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_candidates(docs, max_bucket=50)
    # star fallback keeps output linear, not 300*299/2
    n_pairs = pairs.count()
    assert n_pairs < 1000
    out = D.pair_clusters(pairs).collect()
    assert len(out) == 300
    assert {r.member_id for r in out} == set(range(300))
    assert all(r.cluster_rep == 0 and r.cluster_size == 300 for r in out)


@pytest.mark.spark
def test_pair_clusters_empty_and_oracle(spark):
    """Empty input -> empty output with the contract schema; random graph
    matches the DuckDB recursive-CTE twin and the union-find oracle."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = D.pair_clusters(empty)
    assert out.dtypes == [("member_id", "bigint"), ("cluster_rep", "bigint"),
                          ("cluster_size", "bigint")]
    assert out.count() == 0

    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 120, size=(200, 2))]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(tuple(r) for r in D.pair_clusters(df).collect())
    assert got == _union_find(edges)
    assert got == _duckdb_clusters(edges)


@pytest.mark.spark
def test_pair_clusters_matches_union_find_oracle(spark):
    """Property: on random graphs built from paths, stars and loose edges,
    with duplicate (reversed) rows and self-loops, pair_clusters returns
    the rows of the dict union-find oracle and of the DuckDB twin."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ids = st.integers(0, 60)
    path = st.lists(ids, min_size=2, max_size=12).map(lambda ns: list(zip(ns, ns[1:])))
    star = st.tuples(ids, st.lists(ids, min_size=1, max_size=8)).map(
        lambda hub_leaves: [(hub_leaves[0], n) for n in hub_leaves[1]])
    loose = st.lists(st.tuples(ids, ids), max_size=10)

    @st.composite
    def graphs(draw):
        parts = draw(st.lists(st.one_of(path, star, loose), min_size=1, max_size=4))
        edges = [e for part in parts for e in part]
        dups = draw(st.lists(st.sampled_from(edges), max_size=5)) if edges else []
        loops = [(n, n) for n in draw(st.lists(ids, max_size=3))]
        return edges + [(b, a) for a, b in dups] + loops

    @settings(max_examples=8, deadline=None, database=None)
    @given(graphs())
    def check(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = sorted(tuple(r) for r in D.pair_clusters(df).collect())
        assert got == _union_find(edges)
        assert got == _duckdb_clusters(edges)

    check()


@pytest.mark.spark
def test_pair_clusters_runs_no_job_while_built(spark):
    """Building the closure's frame runs no Spark job: over a pair frame,
    and over minhash candidates of an already-read documents table (the
    minhash_clusters contract query), whose band pin is lazy too."""
    from tests.conftest import SF_DIR

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sc = spark.sparkContext
    for group, build in (
            ("pair-clusters-build", lambda: D.pair_clusters(pairs)),
            ("minhash-clusters-build", lambda: D.pair_clusters(
                D.minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                         shingle=5, max_bucket=1000)))):
        sc.setJobGroup(group, group)
        try:
            built = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, group
        assert built.count() > 0, group


@pytest.mark.spark
def test_pair_clusters_with_corpus_singletons(spark):
    """Unpaired corpus rows come back as size-1 clusters (their own rep);
    keeping `member_id == cluster_rep` yields exactly uniques + one keeper
    per dup group."""
    from tests.test_incremental import pair_clusters_with_corpus

    corpus = spark.createDataFrame([(i,) for i in range(10)], "id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "id_a long, id_b long")
    out = pair_clusters_with_corpus(corpus, pairs, id_col="id")
    rows = {r.member_id: (r.cluster_rep, r.cluster_size)
            for r in out.collect()}
    assert len(rows) == 10
    assert rows[1] == (1, 3) and rows[2] == (1, 3) and rows[3] == (1, 3)
    assert rows[7] == (7, 2) and rows[8] == (7, 2)
    for s in (0, 4, 5, 6, 9):
        assert rows[s] == (s, 1)
    keepers = {r.member_id for r in
               out.filter(F.col("member_id") == F.col("cluster_rep")).collect()}
    assert keepers == {0, 1, 4, 5, 6, 7, 9}
