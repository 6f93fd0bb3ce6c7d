"""Deduplication operators: phash-per-tile (north rule), minhash-LSH near-dup
candidate pairs over text, and the pair -> cluster closure.

The reference's only dedup is the per-tile dictionary re-encode
(/root/reference/src/transform.rs:174-191); the graft promotes dedup to a
first-class operator family.

Skew note: `phash_dedup` groups on (z, x, y, phash). Hot metro tiles are the
skew risk, but the group key INCLUDES phash, which is hash-uniform within a
tile — so the shuffle key space is fine without salting; salting is applied
in the tile-level aggregations (see rollup.py / pipeline.py) where the key is
the bare tile.

Hash family (mirrored exactly by the DuckDB oracle SQL builders below): all
arithmetic in the mod P = 2^31-1 domain so both engines compute
bit-identical int64 values —
  shingle hash  s_t = (sum_j code[t+j] * 257^j) mod P
  minhash_i     min_t (s_t * (2i+1) + b_i) mod P,  b_i = (i*2654435761+7) mod P
  band bucket k (sum_t m_{kw+t} * 31^t) mod P + k * 2^31
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import session

P31 = 2147483647          # 2^31 - 1: keeps every product int64-safe (ANSI mode)
GOLD = 2654435761         # 2^32 / golden ratio (Knuth multiplicative constant)


def phash_dedup(df: DataFrame, keys: tuple[str, ...] = ("z", "x", "y", "phash"),
                order_col: str = "image_id") -> DataFrame:
    """Keep the min-`order_col` row per (tile, phash) — deterministic keeper.

    row_number window; partial map-side combine isn't available for window
    fns, but the key includes phash so partitions are balanced.

    The keepers are lazily pinned (session.pin(eager=False)): every engine
    caller feeds them to several sinks (pyramid, snapshot, stats, export),
    and the first sink's job computes the upstream (scan, tiling, cell and
    PIP Python passes, filters, the window) once for all of them, while
    building the frame still runs no Spark job. `df` must not carry an
    observe() (see session.pin).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return session.pin(
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn"),
        eager=False,
    )


# ---------------------------------------------------------------------------
# Text near-dup: character-shingle minhash + LSH banding (documents table)
# ---------------------------------------------------------------------------

def _shingle_hashes_np(text: str, n: int) -> np.ndarray:
    """Mod-P polynomial shingle hashes of the text's Unicode CODE POINTS.

    Matches shingle_hashes_sql_expr on arbitrary text: DuckDB's ascii() /
    length() / substr() operate on code points, so the kernel decodes to
    UTF-32 rather than hashing UTF-8 bytes (bytes-vs-chars diverged on any
    non-ASCII document). Code points < 2^21, so the windowed dot product is
    < n * 2^21 * P ~ 2^57 for n<=16 — int64-safe.
    """
    b = np.frombuffer((text or "").encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(b) < n:
        b = np.pad(b, (0, n - len(b)), constant_values=32)  # rpad with spaces
    win = np.lib.stride_tricks.sliding_window_view(b, n)
    pows = np.array([pow(257, j, P31) for j in range(n)], dtype=np.int64)
    return (win @ pows) % P31


def shingle_hashes_sql_expr(text: str, n: int) -> str:
    """DuckDB list expr: the same mod-P shingle hashes over `text`."""
    padded = f"rpad({text}, CAST(greatest(length({text}), {n}) AS INT), ' ')"
    terms = " + ".join(
        f"CAST(ascii(substr(__p, CAST(t + {j} AS INT), 1)) AS BIGINT) * {pow(257, j, P31)}"
        for j in range(n)
    )
    return (
        f"(SELECT list_transform(generate_series(1, greatest(length(__p) - {n - 1}, 1)), "
        f"t -> ({terms}) % {P31}) FROM (SELECT {padded} AS __p))"
    )


def minhash_band_buckets(text_col: Column, num_hashes: int = 16, bands: int = 4,
                         shingle: int = 5) -> Column:
    """array<long> of LSH band-bucket values — one vectorized numpy pass.

    (Spark's higher-order fns evaluate interpreted per element, ~100x slower
    than codegen — measured round 1 — so the signature is computed in a
    single Arrow batch: shingle hashes -> num_hashes affine mins -> per-band
    polynomial fold. All mod-P int64: the DuckDB twin
    minhash_buckets_sql_expr computes identical values.)
    """
    width = num_hashes // bands
    A = np.array([2 * i + 1 for i in range(num_hashes)], dtype=np.int64)
    B = np.array([(i * GOLD + 7) % P31 for i in range(num_hashes)], dtype=np.int64)
    BAND_OFF = (np.arange(bands, dtype=np.int64) << 31)

    @pandas_udf("array<long>")
    def _buckets(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = _shingle_hashes_np(t, shingle)
            vals = (s[:, None] * A + B) % P31        # (T, H); s*A < 33*P, safe
            sig = vals.reshape(len(s), bands, width).min(axis=0)  # (bands, width)
            # Horner fold mod P per step (sum_t m_t * 31^t mod P): a plain dot
            # product overflows int64 silently for width >= 7; here every
            # intermediate stays < 31*P + P < 2^36.
            folded = np.zeros(bands, dtype=np.int64)
            for t_ in range(width - 1, -1, -1):
                folded = (folded * 31 + sig[:, t_]) % P31
            out.append(folded + BAND_OFF)
        return pd.Series(out)

    return _buckets(text_col)


def minhash_buckets_sql_expr(text: str, num_hashes: int = 16, bands: int = 4,
                             shingle: int = 5) -> str:
    """DuckDB list expr producing the same band buckets as minhash_band_buckets."""
    width = num_hashes // bands
    sh = shingle_hashes_sql_expr(text, shingle)
    mins = (
        f"list_transform(generate_series(0, {num_hashes - 1}), i -> "
        f"list_min(list_transform(__sh, s -> (s * (2*i + 1) + (i * {GOLD} + 7) % {P31}) % {P31})))"
    )
    # Horner fold with % P per step — mirrors minhash_band_buckets exactly
    # and stays in-range for any width (a plain sum-of-products overflows
    # BIGINT for width >= 7, which DuckDB raises on and numpy wraps silently).
    band = "CAST(0 AS BIGINT)"
    for t in range(width - 1, -1, -1):
        band = f"(({band} * 31 + __m[k*{width} + {t + 1}]) % {P31})"
    return (
        f"(SELECT list_transform(generate_series(0, {bands - 1}), k -> "
        f"{band} + (CAST(k AS BIGINT) << 31)) "
        f"FROM (SELECT {mins} AS __m FROM (SELECT {sh} AS __sh)))"
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                           num_hashes: int = 16, bands: int = 4, shingle: int = 5,
                           max_bucket: int = 1000) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    band buckets (one numpy UDF pass) -> explode -> size-split:
      * NORMAL buckets (2 <= size <= max_bucket): all-pairs self equi-join —
        every reducer's pair output is bounded at max_bucket^2.
      * HOT buckets (size > max_bucket — the 10k-identical-boilerplate case
        web-scale dedup exists for): all-pairs would emit O(B^2) rows and
        straggle one reducer, so instead each hot bucket emits STAR pairs
        (rep, member) against its deterministic representative (min id) —
        O(B) output, linear shuffle, and every member stays connected to
        the rep, which is exactly the connectivity dedup clustering needs.
    -> distinct candidate id pairs (a < b; the rep is the bucket minimum, so
    star pairs are already normalized).

    `banded` is pinned: the plan references it up to 6x
    (sizes, both self-join sides, the star arm), and an un-materialized
    reference re-executes the WHOLE shingle+minhash Python pass per copy —
    measured 6 ArrowEvalPython/6 scans in the un-pinned plan, and 1.63 s ->
    1.17 s warm at sf0.1 with the pin. The pinned rows are slim
    (id, bucket) = 16 B x bands per doc — the guide §8 proxy shape, one
    cheap text pass at any corpus size. The pin is lazy (it carries no
    Observation): building the frame runs no Spark job, and the first job
    that reads it computes the pass once for every reference.
    """
    banded = session.pin(df.select(
        F.col(id_col).alias("id"),
        F.explode(minhash_band_buckets(F.col(text_col), num_hashes, bands, shingle)).alias("bucket"),
    ), eager=False)
    sizes = banded.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"),
                                         F.min("id").alias("__rep"))
    ok = sizes.filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket)).select("bucket")
    normal = banded.join(ok, on="bucket")
    a, b = normal.alias("a"), normal.alias("b")
    pairs = (
        a.join(b, on="bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    hot = sizes.filter(F.col("__n") > max_bucket).select("bucket", "__rep")
    star = (
        banded.join(hot, on="bucket")
        .filter(F.col("id") != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    return pairs.unionByName(star).distinct()


def minhash_lsh_sql(table: str = "documents", id_col: str = "doc_id",
                    text_col: str = "text", num_hashes: int = 16, bands: int = 4,
                    shingle: int = 5, max_bucket: int = 1000) -> str:
    """DuckDB twin of minhash_lsh_candidates (bit-identical pairs), including
    the hot-bucket star fallback."""
    bks = minhash_buckets_sql_expr(text_col, num_hashes, bands, shingle)
    return f"""
WITH __b AS (
  SELECT {id_col} AS id, unnest({bks}) AS bucket FROM {table}),
__sz AS (SELECT bucket, count(*) AS n, min(id) AS rep FROM __b GROUP BY bucket),
__f AS (SELECT __b.* FROM __b JOIN __sz USING (bucket)
        WHERE n BETWEEN 2 AND {max_bucket}),
__hot AS (SELECT __sz.rep, __b.id FROM __b JOIN __sz USING (bucket)
          WHERE n > {max_bucket} AND __b.id != __sz.rep)
SELECT DISTINCT id_a, id_b FROM (
  SELECT a.id AS id_a, b.id AS id_b
  FROM __f a JOIN __f b USING (bucket) WHERE a.id < b.id
  UNION ALL
  SELECT rep AS id_a, id AS id_b FROM __hot)
"""


# ---------------------------------------------------------------------------
# Pairs -> clusters: connected components (transitive closure) in one task
# ---------------------------------------------------------------------------

def _components(batches):
    """mapInArrow body: (u, v) edge batches -> (member_id, cluster_rep,
    cluster_size) of every node, the rep being its component's min id.

    Hook-and-shortcut union-find over dense node indices: np.unique sorts
    the endpoint ids, so the min index is the min id, and duplicate or
    reversed edges cost nothing. Each round hooks every root to the least
    root it shares an edge with (np.minimum.at: a parent only ever gets
    smaller, so the forest has no cycle), pointer-jumps until no label
    moves, and drops the edges that now lie inside one component. The
    root of a component is its min index, which no hook can move."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    ends = np.concatenate([b.column(c).to_numpy() for c in (0, 1) for b in batches])
    ids, edges = np.unique(ends, return_inverse=True)
    edges = edges.reshape(2, -1)
    lbl = np.arange(len(ids))
    while edges.size:
        a, b = lbl[edges[0]], lbl[edges[1]]
        np.minimum.at(lbl, a, b)
        np.minimum.at(lbl, b, a)
        while not np.array_equal(up := lbl[lbl], lbl):
            lbl = up
        edges = edges[:, lbl[edges[0]] != lbl[edges[1]]]
    yield pa.RecordBatch.from_pydict({"member_id": ids, "cluster_rep": ids[lbl],
                                      "cluster_size": np.bincount(lbl)[lbl]})


def pair_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Transitive closure of a near-dup PAIR set into clusters with a
    deterministic min-id representative: (member_id, cluster_rep,
    cluster_size). The step a candidate-pair operator such as
    minhash_lsh_candidates needs before rows can actually be dropped — pair
    (a,b)+(b,c) must yield ONE cluster {a,b,c} with one keeper, the
    per-scope-complete semantics of the reference's dictionary dedup
    (transform.rs:174-191) lifted to the whole dataset.

    One lazy pass, so building the frame runs no Spark job: the edges go
    through one exchange into a single partition, and one mapInArrow task
    runs a numpy union-find over them (_components). Bound: that task holds
    every edge, 16 B per edge (two longs) plus numpy working arrays of the
    same order. The engine's graphs are small — the ingest's is at most
    batch x bands star edges — so the small side is not partitioned; bring
    back a distributed closure only if a listed workload needs one.

    Ids must be numeric (cast to long); pairs may arrive in any orientation,
    with duplicates, self-loops and null ids (the last two ignored). Nodes
    with no surviving pair do not appear — left-join from the corpus for
    singleton handling.
    """
    return (pairs.select(F.col(id_a).cast("long").alias("u"),
                         F.col(id_b).cast("long").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .repartition(1)
            .mapInArrow(_components,
                        "member_id long, cluster_rep long, cluster_size long"))


def pair_clusters_sql(pairs_src: str, id_a: str = "id_a",
                      id_b: str = "id_b") -> str:
    """DuckDB twin of pair_clusters: recursive-CTE reachability closure over
    `pairs_src` (any query yielding id_a, id_b), then min reachable label
    per member. Exact same (member_id, cluster_rep, cluster_size) set —
    reachability is symmetric, so min-over-reachable == component min ==
    the root the union-find keeps."""
    return f"""
WITH RECURSIVE
__p AS (SELECT {id_a} AS pa, {id_b} AS pb FROM ({pairs_src}) WHERE {id_a} != {id_b}),
__ed AS (SELECT pa AS u, pb AS v FROM __p UNION SELECT pb, pa FROM __p),
__walk(id, lbl) AS (
  SELECT u, u FROM __ed
  UNION
  SELECT e.v, w.lbl FROM __walk w JOIN __ed e ON e.u = w.id
),
__rep AS (SELECT id AS member_id, min(lbl) AS cluster_rep
          FROM __walk GROUP BY id)
SELECT CAST(member_id AS BIGINT) AS member_id,
       CAST(cluster_rep AS BIGINT) AS cluster_rep,
       CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
FROM __rep
"""

