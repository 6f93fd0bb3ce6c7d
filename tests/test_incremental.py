"""Incremental near-dup ingest: batch-over-batch dedup against a persistent
LSH band index, first-seen-wins, idempotent replay.

The fixture texts were searched offline against the ACTUAL minhash family
(num_hashes=16, bands=8, shingle=5 — deterministic), giving exactly this
collision graph and nothing else:

    A ~ B ~ C   (chain: A and C share NO bucket — only B links them)
    D1 ~ BR ~ D2 (bridge: BR collides with both committed docs)
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators.dedup import minhash_lsh_candidates, pair_clusters
from mvt_wrangler_spark.plans.incremental import incremental_neardup_ingest
from mvt_wrangler_spark.sources.catalog import SnapshotTable

ROOT = "/tmp/spark_graft_test_incremental"

A = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village road near the old mill"
B = "the quick amber fox gentle over the lazy dog while rain falls on the quiet village sparse near the old mill"
C = "the quick amber fox gentle molten the lazy dog while rain sparse on the quiet village sparse sparse the old mill"
D1 = "granite towers rise above the harbor as seagulls wheel across the cold morning light of the northern bay"
D2 = "someone planted rows of tomatoes beside the greenhouse and watered them every evening after the summer heat faded"
BR = D1 + " " + D2
U = "unique short text about nothing in particular today with seven more filler words appended here"

KW = dict(num_hashes=16, bands_n=8, shingle=5)


@pytest.fixture()
def tables():
    shutil.rmtree(ROOT, ignore_errors=True)
    docs = SnapshotTable(f"{ROOT}/docs", n_buckets=4, bucket_col="doc_id")
    bands = SnapshotTable(f"{ROOT}/bands", n_buckets=4, bucket_col="bucket")
    yield docs, bands
    shutil.rmtree(ROOT, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def pair_clusters_with_corpus(corpus, pairs, id_col="id", id_a="id_a", id_b="id_b"):
    """pair_clusters over the WHOLE corpus, the one-shot global dedup the
    incremental result is checked against: rows with no near-dup pair come
    back as size-1 clusters (their own rep), so `member_id == cluster_rep`
    keeps exactly the unique rows plus one keeper per dup group. `id_col`
    values must be the unique numeric row ids the pair generator used."""
    clusters = pair_clusters(pairs, id_a=id_a, id_b=id_b)
    ids = corpus.select(F.col(id_col).cast("long").alias("member_id"))
    return (ids.join(clusters, "member_id", "left")
            .select("member_id",
                    F.coalesce("cluster_rep", F.col("member_id"))
                    .alias("cluster_rep"),
                    F.coalesce("cluster_size", F.lit(1)).cast("long")
                    .alias("cluster_size")))


@pytest.mark.spark
def test_incremental_ingest_chain_bridge_replay(spark, tables):
    docs, bands = tables

    # batch 1: four mutually-non-colliding docs — all kept
    s1 = incremental_neardup_ingest(
        spark, docs, bands, _batch(spark, [(1, A), (2, D1), (3, D2), (4, U)]),
        job_id="b1", **KW)
    assert (s1["batch_rows"], s1["kept"], s1["dropped"]) == (4, 4, 0)

    # batch 2: B near-dups committed A (via index); 6 is an exact text dup
    # of A; both drop. B's bands enter the index under rep 1 — that is what
    # carries the A~B~C chain into batch 3.
    s2 = incremental_neardup_ingest(
        spark, docs, bands, _batch(spark, [(5, B), (6, A)]), job_id="b2", **KW)
    assert (s2["kept"], s2["dropped"]) == (0, 2)

    # after batch 2 the result equals a one-shot GLOBAL dedup of rows 1..6
    # (no bridges yet): keepers = cluster reps = {1, 2, 3, 4}
    allrows = _batch(spark, [(1, A), (2, D1), (3, D2), (4, U), (5, B), (6, A)])
    gpairs = minhash_lsh_candidates(allrows, num_hashes=16, bands=8, shingle=5)
    gkeep = {r.member_id for r in
             pair_clusters_with_corpus(allrows, gpairs, id_col="doc_id")
             .filter(F.col("member_id") == F.col("cluster_rep")).collect()}
    inc_keep = {r.doc_id for r in
                docs.read_current(spark).select("doc_id").collect()}
    assert inc_keep == gkeep == {1, 2, 3, 4}

    # batch 3, the two interesting cases:
    #  - 7 (text C) shares NO bucket with committed A — it is dropped ONLY
    #    because dropped B's buckets live in the index under rep 1
    #  - 8 (text BR) bridges committed D1 and D2: the bridge row drops,
    #    BOTH committed docs stay (documented first-seen divergence from
    #    one-shot global clustering, which would keep only doc 2)
    s3 = incremental_neardup_ingest(
        spark, docs, bands, _batch(spark, [(7, C), (8, BR)]), job_id="b3", **KW)
    assert (s3["kept"], s3["dropped"]) == (0, 2)
    final = {r.doc_id for r in docs.read_current(spark).select("doc_id").collect()}
    assert final == {1, 2, 3, 4}

    # replaying a committed batch is a no-op (committed-job-id ledger)
    s3r = incremental_neardup_ingest(
        spark, docs, bands, _batch(spark, [(7, C), (8, BR)]), job_id="b3", **KW)
    assert s3r["docs_snapshot"] == s3["docs_snapshot"]
    assert s3r["bands_snapshot"] == s3["bands_snapshot"]
    assert docs.read_current(spark).count() == 4

    # a genuinely new batch after the replay still dedups correctly
    s4 = incremental_neardup_ingest(
        spark, docs, bands, _batch(spark, [(9, U), (10, "entirely fresh words "
                                                       "about glaciers calving into a turquoise fjord at dawn")]),
        job_id="b4", **KW)
    assert (s4["kept"], s4["dropped"]) == (1, 1)  # 9 dups committed U
    assert {r.doc_id for r in docs.read_current(spark).select("doc_id").collect()} \
        == {1, 2, 3, 4, 10}
