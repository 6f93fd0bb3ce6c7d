"""Deterministic sampling: reproducibility, exact-k, partition independence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import sampling as S


@pytest.mark.spark
def test_hash_sample_reproducible_and_partition_independent(spark):
    df = spark.range(10_000).withColumnRenamed("id", "id")
    a = {r.id for r in S.hash_sample(df, 0.3, "id").collect()}
    b = {r.id for r in S.hash_sample(df.repartition(17), 0.3, "id").collect()}
    assert a == b and 0.25 < len(a) / 10_000 < 0.35
    # disjoint salts give a different (but still deterministic) subset
    c = {r.id for r in S.hash_sample(df, 0.3, "id", salt=99).collect()}
    assert c != a


@pytest.mark.spark
def test_hash_sample_full_int64_id_range(spark):
    """Full-range ids (xxhash64-style, |id| >= 2^33) must not overflow:
    the pre-reduction mod p keeps every intermediate < 2^62, and results
    stay congruent with the small-id form (h(id) == h(id % p) for id > 0)."""
    big = [2**62, 2**62 + 12345, -(2**61), 9223372036854775807,
           -9223372036854775808 + 1, 8_400_000_000, 2**31, 7]
    df = spark.createDataFrame([(b,) for b in big], "id long")
    rows = {r.id: r.h for r in
            df.select("id", S.sample_hash(F.col("id")).alias("h")).collect()}
    assert all(0 <= v < S._MOD for v in rows.values())
    # congruence with the reduced id (exact for non-negative ids)
    small = spark.createDataFrame(
        [(b % S._MOD,) for b in big if b > 0], "id long")
    reduced = [r.h for r in
               small.select(S.sample_hash(F.col("id")).alias("h")).collect()]
    assert reduced == [rows[b] for b in big if b > 0]
    # DuckDB twin agrees on the same huge ids
    import duckdb

    for b in big:
        got = duckdb.sql(
            f"SELECT {S.sample_hash_sql(str(b))} AS h").fetchone()[0]
        assert got == rows[b], b


@pytest.mark.spark
def test_stratified_topk_exact_k_per_group(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"))
    out = S.stratified_topk(df, ["g"], k=5, id_col="id")
    counts = {r.g: r.n for r in
              out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert set(counts.values()) == {5} and len(counts) == 7
    # small groups keep all their rows
    tiny = df.filter(F.col("id") < 3)
    assert S.stratified_topk(tiny, ["g"], k=5).count() == 3
    # deterministic across physical layouts
    a = sorted(r.id for r in out.collect())
    b = sorted(r.id for r in
               S.stratified_topk(df.repartition(13), ["g"], 5).collect())
    assert a == b


@pytest.mark.spark
def test_assign_shards_packing_invariants(spark):
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("g"),
        (F.pmod(F.col("id") * 37, F.lit(500)) + 100).alias("sz"))
    out = S.assign_shards(df, ["g"], "sz", shard_bytes=1000).collect()
    by_group = {}
    for r in sorted(out, key=lambda r: (r.g, r.id)):
        by_group.setdefault(r.g, []).append(r)
    for g, rows in by_group.items():
        # shard ids are dense and non-decreasing in id order
        shards = [r.shard for r in rows]
        assert shards[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(shards, shards[1:]))
        assert sorted(set(shards)) == list(range(max(shards) + 1))
        # every shard except the last spans >= shard_bytes once closed:
        # the first row of shard k+1 has prefix sum >= 1000*(k+1)
        pref = 0
        for r in rows:
            assert r.shard == pref // 1000
            pref += r.sz
    # deterministic across physical layouts
    a = sorted((r.id, r.shard) for r in out)
    b = sorted((r.id, r.shard) for r in
               S.assign_shards(df.repartition(13), ["g"], "sz", 1000).collect())
    assert a == b


@pytest.mark.spark
def test_assign_split_proportions_and_stability(spark):
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(20_000)
    out = {r.id: r.split for r in S.assign_split(df, fr, "id").collect()}
    n = len(out)
    counts = {}
    for s in out.values():
        counts[s] = counts.get(s, 0) + 1
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01
    assert abs(counts["test"] / n - 0.1) < 0.01
    # growth stability: ingesting more rows never moves an existing row
    grown = {r.id: r.split for r in
             S.assign_split(spark.range(40_000), fr, "id").collect()}
    assert all(grown[i] == s for i, s in out.items())
    # partition independence
    rep = {r.id: r.split for r in
           S.assign_split(df.repartition(17), fr, "id").collect()}
    assert rep == out


@pytest.mark.spark
def test_assign_split_matches_duckdb_twin(spark):
    import duckdb

    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    ids = [0, 1, 7, 2**31, 2**62, -(2**61), 8_400_000_000, 999_999_937]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r.id: r.split for r in S.assign_split(df, fr, "id", salt=3).collect()}
    sql = S.assign_split_sql(fr, "id", salt=3)
    con = duckdb.connect()
    for i in ids:
        want = con.execute(f"SELECT {sql} FROM (SELECT CAST({i} AS BIGINT) AS id)").fetchone()[0]
        assert got[i] == want, (i, got[i], want)


def test_split_thresholds_validation():
    with pytest.raises(ValueError):
        S.split_thresholds({})
    with pytest.raises(ValueError):
        S.split_thresholds({"a": 0.5, "b": 0.4})
    bounds = S.split_thresholds({"a": 0.5, "b": 0.5})
    assert bounds[0][0] == "a" and bounds[-1] == ("b", 2147483647)


def test_dedup_safe_split_no_cluster_leakage(spark):
    """Every near-dup cluster lands entirely in ONE split (the invariant
    the composition exists for), singletons included, all docs covered."""
    from collections import defaultdict

    import __spark_entry__ as e

    rows = e.q_dedup_safe_split(spark, "/root/testdata/sf0.001").collect()
    by_rep = defaultdict(set)
    for r in rows:
        by_rep[r.rep].add(r.split)
    assert all(len(s) == 1 for s in by_rep.values())
    assert len(rows) == 500                      # every doc assigned
    assert len({r.split for r in rows}) >= 2     # not one degenerate bucket
    assert any(len([x for x in rows if x.rep == rep]) > 1 for rep in by_rep)


def test_shard_manifest_offsets(spark):
    """Manifest invariants: seq is 0..n-1 per shard in id order; byte
    ranges tile the shard contiguously ([0, s1), [s1, s2), ...); the first
    row of shard k+1 has group prefix sum >= (k+1)*shard_bytes (the
    assign_shards boundary rule); a re-run is byte-identical."""
    from mvt_wrangler_spark.operators.sampling import shard_manifest

    rows = [(i, 1, 1, (i * 2654435761) % 900 + 100) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long, nbytes long")
    out = sorted(shard_manifest(df, ["x", "y"], "nbytes", 1000).collect(),
                 key=lambda r: r.id)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    total = 0
    for s, rs in sorted(by_shard.items()):
        assert [r.seq for r in rs] == list(range(len(rs)))
        assert rs[0].byte_start == 0
        for a, b in zip(rs, rs[1:]):
            assert b.byte_start == a.byte_end
            assert a.id < b.id
        if s > 0:
            assert total >= s * 1000  # prefix sum at shard s's first row
        total += sum(r.nbytes for r in rs)
    out2 = sorted(shard_manifest(df, ["x", "y"], "nbytes", 1000).collect(),
                  key=lambda r: r.id)
    assert out == out2
