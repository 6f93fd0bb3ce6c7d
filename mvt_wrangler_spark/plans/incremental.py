"""Incremental near-dup ingest: the flow a production training-data pipeline
actually runs — new batches arrive forever, each must be deduped against
itself AND everything already committed, WITHOUT recomputing the corpus.

Design (scale-first):
  - `docs` SnapshotTable: committed survivors (first-seen-wins keepers).
  - `bands` SnapshotTable: the PERSISTENT LSH index — (bucket, rep_id) rows
    for every document ever seen, keyed by its surviving cluster
    representative. Storing dropped rows' bands under their keeper's id is
    what preserves transitive chains across batches: if batch 2's B was
    dropped as a dup of A, and batch 3's C collides only with B's buckets,
    C still pairs with A — the same closure a one-shot global clustering
    would find (tested).
  - Per batch, ONE Python pass: the batch is pinned together with its
    minhash band buckets, so the edge build and both commits read the
    pinned rows and the minhash UDF never runs twice.
  - STAR edges from one shuffle: the batch's (bucket, id) rows are
    unioned with the index's (bucket, rep_id) rows, a min over a
    Window.partitionBy(bucket) finds each bucket's minimum, and every batch
    member links to the minimum of each of its buckets. A bucket's batch
    members and committed reps all join one star, so the components (and
    their min-id keepers) are those of all-pairs bucket cliques plus a
    corpus join — at most batch x bands edges however hot a bucket is,
    with no bucket-size pass, no self-join and no hot-bucket fallback
    (hence no `max_bucket`). A hot bucket's rows sit in the window's row
    buffer, which spills to disk, so no per-bucket state has to fit in
    memory. ONE pair_clusters closure over the star edges follows.
  - Keeper rule: cluster representative = min id. `id_col` must be
    monotone with ingest order (true of any ingest-assigned id), which
    makes min-id == first-seen and guarantees a cluster's rep is always a
    committed/kept doc.
  - Row and kept counts ride the two pins as Observations: no count job.
  - Both commits are one_file_per_bucket: a batch's commit is small, so the
    range-sampling job would cost more than the write parallelism it buys.
  - Commits via SnapshotTable(append=True) with caller job_ids: replaying
    a committed batch is a no-op (committed-job-id ledger), and a crash
    between the docs and bands commits replays deterministically — the
    closure reads only the bands index, which the crash left unchanged, so
    survivors recompute identically.

Documented divergence from one-shot global dedup (inherent to ANY
first-seen incremental system): a later row can BRIDGE two already-
committed docs (reveal they are transitively near-dups of each other).
First-seen semantics drops the bridge row but keeps both committed docs —
retro-deletion is a separate compaction job, not an ingest step. The test
plants exactly this case and asserts the kept set.

Reference analog: the per-tile dictionary dedup
(/root/reference/src/transform.rs:174-191) is per-scope-complete; this
lifts the same keep-first-drop-rest contract to an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import session
from ..operators.dedup import minhash_band_buckets, pair_clusters
from ..sources.catalog import SnapshotTable


def incremental_neardup_ingest(
    spark: SparkSession,
    docs: SnapshotTable,
    bands: SnapshotTable,
    batch: DataFrame,
    job_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands_n: int = 4,
    shingle: int = 5,
) -> dict:
    """Ingest one batch; returns {"batch_rows", "kept", "dropped",
    "docs_snapshot", "bands_snapshot"}. See module docstring for semantics.
    `docs` should be keyed/bucketed on `id_col`; `bands` on "bucket"."""
    # pin the batch WITH its band buckets: it feeds the edge build and the
    # keeper pin — a nondeterministic source (limit/sample) would otherwise
    # drop one row set and commit another, and an unpinned bucket column
    # would re-run the minhash UDF per consumer
    doc_id = F.col(id_col).cast("long")
    seen = Observation()
    pinned = session.pin(
        batch.withColumn("__buckets", minhash_band_buckets(
            F.col(text_col), num_hashes, bands_n, shingle))
        .observe(seen, F.count(F.lit(1)).alias("rows")))

    # star edges: each bucket's minimum over batch members and committed
    # reps (committed members of a bucket are already clustered under its
    # rep), linked to every batch member of the bucket
    members = pinned.select(F.explode("__buckets").alias("bucket"),
                            doc_id.alias("id"), F.lit(True).alias("new"))
    if bands.current_snapshot() is not None:
        members = members.unionByName(bands.read_current(spark).select(
            "bucket", F.col("rep_id").alias("id"), F.lit(False).alias("new")))
    edges = (members
             .withColumn("id_a", F.min("id").over(Window.partitionBy("bucket")))
             .filter(F.col("new") & (F.col("id") != F.col("id_a")))
             .select("id_a", F.col("id").alias("id_b")))

    clusters = pair_clusters(edges)  # (member_id, cluster_rep, size)
    # every batch row with its keeper, pinned once: both commits read it
    kept = Observation()
    ruled = session.pin(
        pinned
        .join(clusters.select(F.col("member_id").alias("__member"),
                              F.col("cluster_rep").alias("__rep")),
              doc_id == F.col("__member"), "left")
        .withColumn("__rep", F.coalesce("__rep", doc_id))
        .drop("__member")
        .observe(kept, F.count_if(doc_id == F.col("__rep")).alias("kept")))

    survivors = ruled.filter(doc_id == F.col("__rep")).drop("__buckets", "__rep")
    docs_snap = docs.write_snapshot(survivors, job_id=job_id, append=True,
                                    one_file_per_bucket=True)

    # EVERY batch row's buckets enter the index, keyed by its keeper —
    # dropped rows' buckets under the keeper's id preserve transitive
    # reachability for future batches (module docstring)
    new_index = ruled.select(F.explode("__buckets").alias("bucket"),
                             F.col("__rep").alias("rep_id")).distinct()
    bands_snap = bands.write_snapshot(new_index, job_id=f"{job_id}-bands",
                                      append=True, one_file_per_bucket=True)

    n_batch, n_kept = seen.get["rows"], kept.get["kept"]
    return {
        "batch_rows": n_batch,
        "kept": n_kept,
        "dropped": n_batch - n_kept,
        "docs_snapshot": docs_snap["snapshot"],
        "bands_snapshot": bands_snap["snapshot"],
    }
