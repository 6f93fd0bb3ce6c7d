"""Deduplication operators: phash-per-tile (north rule) + the training-data
suite (minhash-LSH, simhash, embedding near-dup) over text/vector columns.

The reference's only dedup is the per-tile dictionary re-encode
(/root/reference/src/transform.rs:174-191); the graft promotes dedup to a
first-class operator family.

Skew note: `phash_dedup` groups on (z, x, y, phash). Hot metro tiles are the
skew risk, but the group key INCLUDES phash, which is hash-uniform within a
tile — so the shuffle key space is fine without salting; salting is applied
in the tile-level aggregations (see rollup.py / pipeline.py) where the key is
the bare tile.

Hash family (shared by minhash + simhash, and mirrored exactly by the
DuckDB oracle SQL builders below): all arithmetic in the mod P = 2^31-1
domain so both engines compute bit-identical int64 values —
  shingle hash  s_t = (sum_j code[t+j] * 257^j) mod P
  minhash_i     min_t (s_t * (2i+1) + b_i) mod P,  b_i = (i*2654435761+7) mod P
  band bucket k (sum_t m_{kw+t} * 31^t) mod P + k * 2^31
  simhash       bit votes over two streams h1 = s, h2 = (s*2654435761+98765) mod P
                (31 bits each -> 62-bit fingerprint)
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
    cheap text pass at any corpus size.
    """
    banded = session.pin(df.select(
        F.col(id_col).alias("id"),
        F.explode(minhash_band_buckets(F.col(text_col), num_hashes, bands, shingle)).alias("bucket"),
    ))
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
# Exact n-gram Jaccard all-pairs (prefix-filtered AllPairs / PPJoin family)
# ---------------------------------------------------------------------------

def _jaccard_fraction(threshold: float) -> tuple[int, int]:
    """Exact rational (num, den) for the Jaccard threshold.

    All threshold comparisons run in int64 on BOTH engines (Spark and the
    DuckDB oracle): `den * n_common >= num * n_union`. A float compare would
    differ between engines — DuckDB parses `0.4` as DECIMAL, Spark as DOUBLE —
    exactly on the boundary cases a dedup threshold exists to decide.
    limit_denominator keeps the products well inside int64 for any real
    shingle-set size (den <= 10^6, n <= ~10^9 shingles would still overflow;
    documents cap at text length, so num*n_union < 10^6 * 10^7 << 2^63).
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10**6)
    if not (0 < fr <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return fr.numerator, fr.denominator


def shingle_set_column(text_col: Column, shingle: int = 5) -> Column:
    """array<long>: sorted DISTINCT mod-P shingle hashes of the text.

    One Arrow batch per partition; np.unique gives the sorted set. Shares
    _shingle_hashes_np with minhash/simhash so the DuckDB twin
    (list_sort(list_distinct(...)) over shingle_hashes_sql_expr) is
    bit-identical.
    """

    @pandas_udf("array<long>")
    def _sets(texts: pd.Series) -> pd.Series:
        return pd.Series([np.unique(_shingle_hashes_np(t, shingle)) for t in texts])

    return _sets(text_col)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle: int = 5, threshold: float = 0.4) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs: J(A,B) >= threshold, no sampling.

    Returns (id_a, id_b, n_common, n_union) with id_a < id_b — n_common/n_union
    IS the exact Jaccard similarity of the two documents' distinct shingle
    sets (MinHash-LSH only estimates it; this operator is the exact
    counterpart the training-data mandate lists separately).

    Scale shape — the AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07;
    MapReduce formulation: Vernica et al., SIGMOD'10), pure DataFrame ops:
      1. distinct shingle sets per doc (one Arrow pass, np.unique)
      2. global shingle document-frequencies (groupBy count — ONE shuffle
         over total shingle occurrences)
      3. each doc's set re-ordered ascending by (df, shingle): rarest tokens
         first, a total order shared by all docs
      4. PREFIX index: only the first  n - ceil(t*n) + 1  tokens of each doc
         are exploded into the candidate join. Lemma (Chaudhuri/Ganti/
         Kaushik, ICDE'06): under any common total order, |A^B| >= a implies
         the first |A|-a+1 of A and first |B|-a+1 of B share a token. With
         J >= t, |A^B| >= ceil(t*max(|A|,|B|)), so these prefixes suffice —
         NO candidate with J >= t is missed, while stop-grams shared by
         every boilerplate doc (the quadratic blowup in a naive
         explode-join) land in suffixes and never generate pairs.
      5. equi-join prefix-on-prefix (id_a < id_b, plus the length filter
         den*|B| >= num*|A| both ways: J >= t forces t*|A| <= |B|) on SLIM
         rows — (id, n, tok) only — aggregated to distinct pairs, THEN the
         full sets are re-attached by two id-equi-joins and verified exactly
         via np.intersect1d.
    All threshold math is integer (see _jaccard_fraction) — the DuckDB
    brute-force oracle (ngram_jaccard_sql) matches bit-for-bit, and it is an
    INDEPENDENT implementation (cross join + list_intersect, no prefix
    logic), so it adversarially checks the filter's completeness.

    Shuffle discipline (measured, sf0.01): Vernica et al.'s record-carrying
    variant (full token arrays riding the prefix join) was 289 s here —
    every shared prefix token duplicates ~doc-size arrays into the
    dedup shuffle, quadratic-ish bytes on boilerplate-heavy corpora. The
    slim join + two array re-attach joins is 24x faster: the wide arrays
    cross the wire once per SURVIVING candidate side, not once per shared
    token. `ordered` is pinned (the [[with-global-rank]]
    exchange-reuse lesson, ADVICE r4): it feeds both join sides and both
    re-attach sides, and sampling-dependent recomputation must not produce
    different df-orders between them.
    """
    num, den = _jaccard_fraction(threshold)
    # pin the shingle pass: `tok` feeds BOTH the df aggregation subtree and
    # the join side of `ordered`, and with freq broadcast there is no common
    # exchange for Spark to reuse — unpinned, the Arrow shingle pass runs
    # twice per execution (measured ~2 s warm / ~8 s cold of pure recompute
    # at sf0.1; the pin is ~8 MB of int64 arrays per 5k docs)
    docs = session.pin(df.select(
        F.col(id_col).alias("id"),
        shingle_set_column(F.col(text_col), shingle).alias("toks"),
    ).withColumn("n", F.size("toks").cast("long")))

    tok = docs.select("id", "n", F.explode("toks").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    ordered = session.pin(
        tok.join(freq, on="tok")
        .groupBy("id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(tdf, tok))), s -> s.tok)")
            .alias("otoks"),
            F.first("n").alias("n"),
        )
    )
    # prefix length p = n - ceil(t*n) + 1, integer-exact:
    # ceil(num*n/den) = (num*n + den - 1) div den
    pre = ordered.select(
        "id", "n",
        F.posexplode(
            F.slice(
                F.col("otoks"), F.lit(1),
                F.expr(f"CAST(n - (n * {num} + {den} - 1) DIV {den} + 1 AS INT)"),
            )
        ).alias("pos", "tok"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    # POSITION filter (PPJoin family, Xiao et al. WWW'08), aggregated form.
    # Per pair let c = #shared-prefix tokens and (i^, j^) their MAX 0-based
    # positions (positions are monotone in the global (df, tok) order within
    # each array). Completeness proof: any common token w <= w^ (the max
    # shared-prefix token) sits at position < i^ <= prefix_a in A and
    # < j^ <= prefix_b in B — inside BOTH prefixes — so it IS one of the c
    # shared-prefix tokens; common tokens > w^ live strictly after i^ in A
    # and after j^ in B. Hence
    #   overlap <= c + min(n_a - i^ - 1, n_b - j^ - 1),
    # and J >= t  <=>  overlap >= num*(n_a+n_b)/(num+den): pairs whose bound
    # misses the requirement are provably below threshold — dropped BEFORE
    # the array re-attach joins, where candidate count turns into shuffle
    # bytes. (This max-based bound dominates the textbook min-position one:
    # positions after i_min include the other c-1 shared tokens, so
    # 1 + min-span >= c + max-span always.) The brute-force DuckDB oracle
    # adversarially re-checks the pruning on every contract run.
    slim = (
        a.join(b, on="tok")
        .filter(F.col("a.id") < F.col("b.id"))
        .filter((F.col("a.n") * num <= F.col("b.n") * den)
                & (F.col("b.n") * num <= F.col("a.n") * den))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("__c"),
             F.max(F.col("a.pos")).alias("__i"), F.max(F.col("b.pos")).alias("__j"))
        .filter(
            F.lit(num + den)
            * (F.col("__c") + F.least(F.col("n_a") - F.col("__i") - 1,
                                      F.col("n_b") - F.col("__j") - 1))
            >= F.lit(num) * (F.col("n_a") + F.col("n_b"))
        )
        .drop("__c", "__i", "__j")
    )

    # HISTOGRAM upper-bound prescreen (counting-filter flavor of the PPJoin+
    # suffix filter idea): per doc, a B-bin count histogram of tok % B.
    # Since each doc's toks are DISTINCT, for any pair
    #   n_common <= sum_k min(hist_a[k], hist_b[k])
    # (each common token lands in the same bin on both sides), so pairs
    # whose bound fails (num+den)*bound >= num*(n_a+n_b) are provably below
    # threshold. The bound is evaluated JVM-side (zip_with + aggregate,
    # whole-stage codegen) over ~2*B*4-byte payloads instead of the full
    # 8-byte-per-token arrays — measured at sf0.1/t=0.8 this cuts the
    # position-filter survivors 420k -> 256 (the exact true-pair count), and
    # the operator 43 s -> ~12 s warm, because the wide-array re-attach and
    # the Python verify now see only true-ish pairs. Completeness is exact,
    # not probabilistic (int32 bins never saturate below 2^31 distinct
    # shingles per doc — an int16 clip here would UNDERestimate the bound
    # for multi-MB documents and silently drop qualifying pairs); the
    # brute-force oracle re-checks it every run.
    HB = 128

    @pandas_udf("array<int>")
    def _hist(toks: pd.Series) -> pd.Series:
        return pd.Series([
            np.bincount(np.asarray(t, dtype=np.int64) % HB, minlength=HB)
            .astype(np.int32) for t in toks
        ])

    hists = ordered.select("id", _hist("otoks").alias("hist"))
    slim = (
        slim
        .join(hists.select(F.col("id").alias("id_a"), F.col("hist").alias("__ha")),
              on="id_a")
        .join(hists.select(F.col("id").alias("id_b"), F.col("hist").alias("__hb")),
              on="id_b")
        .withColumn("__bound", F.aggregate(
            F.zip_with("__ha", "__hb", lambda x, y: F.least(x, y)),
            F.lit(0), lambda acc, x: acc + x))
        .filter(F.lit(num + den) * F.col("__bound")
                >= F.lit(num) * (F.col("n_a") + F.col("n_b")))
        .drop("__ha", "__hb", "__bound")
    )

    toks = ordered.select("id", "otoks")
    cand = (
        slim
        .join(toks.select(F.col("id").alias("id_a"),
                          F.col("otoks").alias("toks_a")), on="id_a")
        .join(toks.select(F.col("id").alias("id_b"),
                          F.col("otoks").alias("toks_b")), on="id_b")
    )

    # single mapInPandas pass: a pandas_udf n_common column referenced by
    # both the threshold filter and the output projection gets its
    # ArrowEvalPython DUPLICATED by Catalyst (deterministic-UDF re-eval) —
    # measured 2x the array bytes through Arrow. Filtering inside Python
    # evaluates once and ships only surviving (tiny) rows back.
    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, n_common long, n_union long"

    def _verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nc = np.fromiter(
                (len(np.intersect1d(np.asarray(x, dtype=np.int64),
                                    np.asarray(y, dtype=np.int64),
                                    assume_unique=True))
                 for x, y in zip(pdf["toks_a"], pdf["toks_b"])),
                dtype=np.int64, count=len(pdf))
            nu = pdf["n_a"].to_numpy() + pdf["n_b"].to_numpy() - nc
            keep = nc * den >= nu * num
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                "n_common": nc[keep], "n_union": nu[keep],
            })

    return cand.select("id_a", "id_b", "n_a", "n_b", "toks_a", "toks_b") \
               .mapInPandas(_verify, out_schema)


def ngram_jaccard_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", shingle: int = 5,
                      threshold: float = 0.4) -> str:
    """DuckDB BRUTE-FORCE oracle for ngram_jaccard_pairs: every pair, exact
    list_intersect — independently verifies the prefix filter lost nothing."""
    num, den = _jaccard_fraction(threshold)
    sh = shingle_hashes_sql_expr(text_col, shingle)
    return f"""
WITH __s AS (
  SELECT {id_col} AS id, list_sort(list_distinct({sh})) AS toks FROM {table}),
__n AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS n FROM __s),
__p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
         a.n + b.n AS n_sum
  FROM __n a JOIN __n b ON a.id < b.id)
SELECT id_a, id_b, n_common, n_sum - n_common AS n_union
FROM __p WHERE n_common * {den} >= (n_sum - n_common) * {num}
"""


def simhash64(text_col: Column, shingle: int = 4) -> Column:
    """62-bit SimHash over character shingles — vectorized numpy bit-vote.

    Two independent 31-bit hash streams per shingle (h1 = s, h2 = affine
    reshuffle) supply bits 0-30 and 31-61; a bit is set when more than half
    the shingles have it set. Mod-P arithmetic only, so simhash_sql_expr is
    a bit-identical DuckDB twin. (A JVM higher-order-fn formulation needs 62
    interpreted aggregate() passes per row — measured 39s for 500 docs;
    this is one Arrow pass.)
    """

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        bitpos = np.arange(31, dtype=np.int64)
        for n, t in enumerate(texts):
            s = _shingle_hashes_np(t, shingle)
            h2 = (s * GOLD + 98765) % P31
            cnt = len(s)
            word = np.int64(0)
            for base, h in ((0, s), (31, h2)):
                ones = ((h[:, None] >> bitpos) & 1).sum(axis=0)  # (31,)
                setbits = np.nonzero(2 * ones > cnt)[0]
                for i in setbits:
                    word |= np.int64(1) << np.int64(base + i)
            out[n] = word
        return pd.Series(out)

    return _simhash(text_col)


def simhash_sql_expr(text: str, shingle: int = 4) -> str:
    """DuckDB expr: same 62-bit simhash as simhash64."""
    sh = shingle_hashes_sql_expr(text, shingle)
    votes1 = (
        f"list_sum(list_transform(generate_series(0, 30), b -> "
        f"CASE WHEN 2 * list_sum(list_transform(__sh, h -> (h >> b) & 1)) > len(__sh) "
        f"THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))"
    )
    votes2 = (
        f"list_sum(list_transform(generate_series(0, 30), b -> "
        f"CASE WHEN 2 * list_sum(list_transform(__h2, h -> (h >> b) & 1)) > len(__h2) "
        f"THEN (CAST(1 AS BIGINT) << (b + 31)) ELSE 0 END))"
    )
    return (
        f"(SELECT CAST({votes1} + {votes2} AS BIGINT) "
        f"FROM (SELECT __sh, list_transform(__sh, s -> (s * {GOLD} + 98765) % {P31}) AS __h2 "
        f"FROM (SELECT {sh} AS __sh)))"
    )


# ---------------------------------------------------------------------------
# Embedding near-dup: exact distributed all-pairs + LSH-bucketed scale path
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding", quant: int = 100,
                            cos_num: int = 16, cos_den: int = 100,
                            n_blocks: int = 8) -> DataFrame:
    """EXACT all-pairs cosine near-dup (a < b, score>0, score^2 * cos_den >
    cos_num * |a|^2 * |b|^2 on `quant`-quantized int vectors) — fully
    distributed block-pair matmul, NO driver collect.

    Rows hash into n_blocks blocks; each unordered block pair (i <= j) is a
    shuffle group holding submatrices of both blocks, reduced with one int64
    GEMM per group. Shuffle volume is ~(n_blocks/2 + 1) copies of the input
    (each row joins every block it pairs with); per-task memory is
    2 * (N/n_blocks) vectors — size n_blocks ~ N * dim * 8 / executor_mem so
    blocks fit. Compute is the unavoidable exact O(N^2) — for >10^6 vectors
    use embedding_neardup_lsh, which prunes candidates by sign-LSH first.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("b"),
    )
    left = base.select(
        "id", "vec", F.lit(0).alias("side"), F.col("b").alias("bi"),
        F.explode(F.sequence(F.col("b"), F.lit(n_blocks - 1))).alias("bj"),
    )
    right = base.select(
        "id", "vec", F.lit(1).alias("side"),
        F.explode(F.sequence(F.lit(0), F.col("b"))).alias("bi"),
        F.col("b").alias("bj"),
    )

    def _block_pairs(key, pdf):
        i, j = int(key[0]), int(key[1])
        A = pdf[pdf["side"] == 0]
        Bv = A if i == j else pdf[pdf["side"] == 1]
        if not len(A) or not len(Bv):
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        qa = np.round(np.stack(A["vec"].to_numpy()).astype(np.float64) * quant).astype(np.int64)
        qb = qa if i == j else np.round(
            np.stack(Bv["vec"].to_numpy()).astype(np.float64) * quant).astype(np.int64)
        ida = A["id"].to_numpy(dtype=np.int64)
        idb = ida if i == j else Bv["id"].to_numpy(dtype=np.int64)
        na, nb = (qa * qa).sum(axis=1), (qb * qb).sum(axis=1)
        S = qa @ qb.T
        # int64-safe: |q|<=quant, dim 64 -> S <= 64*quant^2 ~ 6.4e5;
        # S^2*cos_den ~ 4e13 and norm-product*cos_num ~ 7e12, both < 2^63
        ok = (S > 0) & (S * S * cos_den > cos_num * np.outer(na, nb))
        lt = ida[:, None] < idb[None, :]
        ai, bi_ = np.nonzero(ok & lt)
        out_a, out_b = [ida[ai]], [idb[bi_]]
        if i != j:  # cross blocks: the smaller id may sit on either side
            ai2, bi2 = np.nonzero(ok & (ida[:, None] > idb[None, :]))
            out_a.append(idb[bi2])
            out_b.append(ida[ai2])
        return pd.DataFrame({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})

    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(_block_pairs, "id_a long, id_b long")
    )


def embedding_sign_buckets(vec_col: Column, quant: int = 100, nbits: int = 16,
                           bands: int = 4, dim: int = 64) -> Column:
    """array<long> of sign-pattern LSH band buckets per vector.

    Deterministic small-integer hyperplanes h[j][i] = ((i*GOLD + j*40503 + 17)
    mod 7) - 3; bit j = (q . h_j >= 0); band k of width nbits/bands folds its
    bits into bucket k*2^w + bits. Pure int math — embedding_lsh_sql mirrors
    it exactly.
    """
    width = nbits // bands
    H = np.array([[((i * GOLD + j * 40503 + 17) % 7) - 3 for i in range(dim)]
                  for j in range(nbits)], dtype=np.int64)  # (nbits, dim)
    SH = (np.arange(width, dtype=np.int64))

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        Q = np.round(np.stack(vecs.to_numpy()).astype(np.float64) * quant).astype(np.int64)
        proj = Q @ H.T                            # (N, nbits)
        bits = (proj >= 0).astype(np.int64)
        folded = (bits.reshape(len(Q), bands, width) << SH).sum(axis=2)  # (N, bands)
        buckets = folded + (np.arange(bands, dtype=np.int64) * (1 << width))[None, :]
        return pd.Series(list(buckets))

    return _buckets(vec_col)


def embedding_neardup_lsh(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding", quant: int = 100,
                          cos_num: int = 16, cos_den: int = 100, nbits: int = 16,
                          bands: int = 4, max_bucket: int = 2000) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucket equi-join for
    candidates (rows sharing >=1 band bucket), exact int64 cosine test within
    buckets. Linear shuffle (bands copies of (id, bucket)), no N^2 anywhere;
    hot buckets beyond max_bucket are dropped (bounded reducers). Recall is
    the LSH collision probability — deterministic here, and the DuckDB twin
    (embedding_lsh_sql) reproduces the exact same pair set.
    """
    qvec = F.transform(F.col(vec_col),
                       lambda x: F.round(x.cast("double") * quant).cast("long"))
    # SLIM candidate generation: the banded self-join and the pair dedup
    # move only (id, bucket) rows; the quantized vectors re-attach to the
    # deduplicated pair set afterwards. The earlier form carried qa+qb
    # (2 x dim longs ~ 1 KB/row) through the bucket join AND the
    # dropDuplicates shuffle — 372k candidate pairs x 1 KB at sf0.1 where
    # the slim form shuffles 16 bytes/pair plus two id-keyed joins of the
    # (much smaller) vector table.
    # pinned: the slim (id, bucket) table is referenced 4x below (sizes +
    # both self-join sides), and un-pinned each copy re-runs the sign-LSH
    # Python pass over the full vector column (4 ArrowEvalPython / 6 scans
    # measured in the un-pinned plan). 16 B x bands per vector.
    e = session.pin(df.select(
        F.col(id_col).alias("id"),
        F.explode(embedding_sign_buckets(F.col(vec_col), quant, nbits, bands)
                  ).alias("bucket")))
    sizes = e.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"))
    ok = sizes.filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket)).select("bucket")
    e = e.join(ok, on="bucket")
    a = e.select(F.col("id").alias("id_a"), "bucket")
    b = e.select(F.col("id").alias("id_b"), "bucket")
    vecs = df.select(F.col(id_col).alias("__vid"), qvec.alias("__q"))
    cand = (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(vecs.select(F.col("__vid").alias("id_a"),
                          F.col("__q").alias("qa")), on="id_a")
        .join(vecs.select(F.col("__vid").alias("id_b"),
                          F.col("__q").alias("qb")), on="id_b")
    )
    dot = F.aggregate(F.zip_with("qa", "qb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.aggregate(F.transform("qa", lambda x: x * x), F.lit(0).cast("long"),
                     lambda acc, v: acc + v)
    nb = F.aggregate(F.transform("qb", lambda x: x * x), F.lit(0).cast("long"),
                     lambda acc, v: acc + v)
    return (
        cand.withColumn("__s", dot).withColumn("__na", na).withColumn("__nb", nb)
        .filter((F.col("__s") > 0)
                & (F.col("__s") * F.col("__s") * cos_den > cos_num * F.col("__na") * F.col("__nb")))
        .select("id_a", "id_b")
    )


def embedding_lsh_sql(table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding", quant: int = 100,
                      cos_num: int = 16, cos_den: int = 100, nbits: int = 16,
                      bands: int = 4, max_bucket: int = 2000, dim: int = 64) -> str:
    """DuckDB twin of embedding_neardup_lsh (identical pair set)."""
    width = nbits // bands
    proj = (
        f"list_transform(generate_series(0, {nbits - 1}), j -> CASE WHEN "
        f"list_sum(list_transform(generate_series(1, {dim}), i -> "
        f"q[i] * (((i - 1) * {GOLD} + j * 40503 + 17) % 7 - 3))) >= 0 THEN 1 ELSE 0 END)"
    )
    fold = " + ".join(f"bits[k*{width} + {t + 1}] * {1 << t}" for t in range(width))
    return f"""
WITH __e AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS q
  FROM {table}),
__p AS (SELECT id, q, {proj} AS bits FROM __e),
__b AS (SELECT id, q, CAST(({fold}) + k * {1 << width} AS BIGINT) AS bucket
        FROM __p, generate_series(0, {bands - 1}) t(k)),
__ok AS (SELECT bucket FROM __b GROUP BY bucket HAVING count(*) BETWEEN 2 AND {max_bucket}),
__f AS (SELECT __b.* FROM __b JOIN __ok USING (bucket)),
__c AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.q AS qa, b.q AS qb
        FROM __f a JOIN __f b USING (bucket) WHERE a.id < b.id),
__s AS (SELECT id_a, id_b,
               list_sum(list_transform(generate_series(1, {dim}), i -> qa[i] * qb[i])) AS s,
               list_sum(list_transform(generate_series(1, {dim}), i -> qa[i] * qa[i])) AS na,
               list_sum(list_transform(generate_series(1, {dim}), i -> qb[i] * qb[i])) AS nb
        FROM __c)
SELECT id_a, id_b FROM __s WHERE s > 0 AND s * s * {cos_den} > {cos_num} * na * nb
"""


# ---------------------------------------------------------------------------
# Image near-dup: perceptual-hash hamming banding (images table phash column)
# ---------------------------------------------------------------------------

def phash_hamming_pairs(df: DataFrame, id_col: str = "image_id",
                        phash_col: str = "phash", k: int = 3, bands: int = 4,
                        max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate image pairs by 64-bit perceptual-hash hamming distance.

    The image twin of minhash_lsh_candidates: web-scale image dedup keys on
    pHash hamming <= k (re-encodes/resizes perturb a few bits), not exact
    equality (phash_dedup covers that). Reference scope: the
    per-tile phash dedup of the north rule generalized to cross-variant
    near-duplicates.

    Banding guarantee (pigeonhole): split the 64-bit phash into `bands`
    disjoint bit-bands; any pair with hamming distance k < bands agrees
    EXACTLY on at least one band, so the band equi-join is a LOSSLESS
    candidate generator FOR BUCKETS WITHIN max_bucket — no recall loss
    there, unlike probabilistic LSH. Shuffle is linear in rows (bands
    copies); per-bucket pair output is capped at max_bucket^2, with the
    hot-bucket star fallback (identical-phash cliques at web scale)
    emitting O(B) representative pairs instead of O(B^2). Inside a hot
    bucket only rep-connectivity is guaranteed: a pair whose every agreeing
    band is hot is seen only as (rep, a), (rep, b) star candidates, and if
    both are within k of each other but beyond k of the rep, the refine
    drops it — the same bounded-recall trade minhash_lsh_candidates makes.
    Raise max_bucket where full hot-bucket recall matters more than the
    O(B^2) blowup. Candidates are then refined with
    an exact popcount: every emitted pair satisfies bit_count(a XOR b) <= k
    whichever candidate path found it.

    Input must be unique per id (pre-aggregate otherwise). Output:
    (id_a, id_b, hamming), id_a < id_b, distinct.

    The slim (id, phash) projection is pinned before banding: the plan
    below references it ~6x (band rows for sizes / both join sides / the
    star arm), and an unpinned input re-executes its WHOLE upstream per
    reference — for a decode-and-hash producer that is six image passes
    per run. The pinned table is 16 bytes/row (the guide §8 proxy shape),
    i.e. one cheap pass at any corpus size.
    """
    if not 1 <= k < bands:
        raise ValueError(f"banding guarantee needs 1 <= k < bands, got k={k} bands={bands}")
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    df = session.pin(df.select(id_col, phash_col))
    width = 64 // bands
    mask = (1 << width) - 1
    # arithmetic shift + mask == unsigned bit extraction, and restates 1:1 in
    # SQL (phash_hamming_sql) for signed phash values
    buckets = F.array(*[
        (F.shiftright(F.col(phash_col), i * width).bitwiseAND(F.lit(mask))
         + F.lit(i * (mask + 1))).cast("long")
        for i in range(bands)
    ])
    banded = df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"),
                       F.explode(buckets).alias("bucket"))
    sizes = banded.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__n"), F.min("id").alias("__rep"),
        F.min_by("ph", "id").alias("__rep_ph"))
    ok = sizes.filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket)).select("bucket")
    normal = banded.join(ok, on="bucket")
    a, b = normal.alias("a"), normal.alias("b")
    cand = (
        a.join(b, on="bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("a.ph").alias("ph_a"),
                F.col("b.id").alias("id_b"), F.col("b.ph").alias("ph_b"))
    )
    hot = sizes.filter(F.col("__n") > max_bucket)
    star = (
        banded.join(hot, on="bucket")
        .filter(F.col("id") != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col("__rep_ph").alias("ph_a"),
                F.col("id").alias("id_b"), F.col("ph").alias("ph_b"))
    )
    cand = cand.unionByName(star)
    # refine BEFORE the pair dedup (guide §2.3 — shuffle fewer bytes): the
    # popcount is free codegen per candidate occurrence, so filtering
    # hamming > k first shrinks the distinct's exchange by the refine
    # selectivity (on real corpora most band collisions fail the refine),
    # and projecting the hashes away first narrows the surviving rows from
    # 4 longs to (id_a, id_b, int). Set-equal to distinct-then-refine
    # because the input is unique per id, so ph_a/ph_b are functions of
    # (id_a, id_b) — same pair set either way (the SQL twin keeps the
    # distinct-first shape as an independent restatement).
    return (
        cand
        .withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .distinct()
    )


def phash_hamming_sql(src: str, k: int = 3, bands: int = 4,
                      max_bucket: int = 1000) -> str:
    """DuckDB twin of phash_hamming_pairs over `src`, a CTE/subquery yielding
    (id, phash). Bit-identical band buckets, join, star fallback, refine."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_exprs = ", ".join(
        f"((phash >> {i * width}) & {mask}) + {i * (mask + 1)}" for i in range(bands))
    return f"""
WITH __in AS ({src}),
__b AS (SELECT id, phash AS ph, unnest([{band_exprs}]) AS bucket FROM __in),
__sz AS (SELECT bucket, count(*) AS n, min(id) AS rep, arg_min(ph, id) AS rep_ph
         FROM __b GROUP BY bucket),
__f AS (SELECT __b.* FROM __b JOIN __sz USING (bucket)
        WHERE n BETWEEN 2 AND {max_bucket}),
__cand AS (
  SELECT DISTINCT id_a, ph_a, id_b, ph_b FROM (
    SELECT a.id AS id_a, a.ph AS ph_a, b.id AS id_b, b.ph AS ph_b
    FROM __f a JOIN __f b USING (bucket) WHERE a.id < b.id
    UNION ALL
    SELECT __sz.rep, __sz.rep_ph, __b.id, __b.ph
    FROM __b JOIN __sz USING (bucket)
    WHERE n > {max_bucket} AND __b.id != __sz.rep))
SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
FROM __cand WHERE bit_count(xor(ph_a, ph_b)) <= {k}
"""


# ---------------------------------------------------------------------------
# Pairs -> clusters: distributed connected components (transitive closure)
# ---------------------------------------------------------------------------

def pair_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                  max_rounds: int = 50,
                  driver_threshold: int = 65536) -> DataFrame:
    """Transitive closure of a near-dup PAIR set into clusters with a
    deterministic min-id representative: (member_id, cluster_rep,
    cluster_size). The step every candidate-pair operator here
    (minhash_lsh_candidates, phash_hamming_pairs, embedding near-dup) needs
    before rows can actually be dropped — pair (a,b)+(b,c) must yield ONE
    cluster {a,b,c} with one keeper, the per-scope-complete semantics of the
    reference's dictionary dedup (/root/reference/src/transform.rs:174-191)
    lifted to the whole dataset.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14 — public) as a
    driver loop over DataFrame stages, the kmeans_fit pattern. Each round is
    two grouped min-aggregations + joins keyed on node id; the edge set is
    pinned per round (truncates the compounding lazy DAG — see
    kmeans_fit/knn expanding-ring note). Converges to per-component stars
    centered on the min id in O(log^2 n) rounds even on adversarial path
    graphs, where plain min-label propagation needs O(diameter) rounds.

    100 TB notes: every stage is a shuffle keyed by node id, partial-agg
    combinable; edge count is non-increasing round over round (large-star
    emits one edge per (u, v>u) slot, small-star at most |E| + |V|, then
    distinct). Cluster reps of giant components become hot join keys — AQE
    skew-join splits them (enabled in session.py); no stage ever collects
    edges to the driver. Convergence is detected by a (count, hash-sum)
    signature of the canonical edge set, then VERIFIED structurally (a
    star forest has no node on both sides of an edge) before returning.

    Ids must be numeric (cast to long); pairs may arrive in any orientation,
    with duplicates and self-loops (ignored). Nodes with no surviving pair
    do not appear — left-join from the corpus for singleton handling.
    """
    def _canon(e: DataFrame) -> DataFrame:
        return (e.filter(F.col("u") != F.col("v"))
                .select(F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"))
                .distinct())

    def _large_star(e: DataFrame) -> DataFrame:
        # for each node u: m = min(N(u) + {u}); attach strictly-larger
        # neighbors to m
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (und.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("mn", F.col("u")).alias("m")))
        return (und.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))

    def _small_star(e: DataFrame) -> DataFrame:
        # orient high -> low; attach each smaller neighborhood (and the
        # center) to its min
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = d.groupBy("u").agg(F.min("v").alias("m"))
        return (d.join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m.select("u", F.col("m").alias("v"))))

    def _checkpoint_with_sig(e: DataFrame):
        """Materialize the round's edge set and its convergence signature in
        ONE job: the (count, hash-sum) rides the pin's job as an
        Observation instead of a second aggregation job. At sf0.1 the loop is
        driver-pacing dominated (~3 visible jobs/round in round 4); this
        halves the per-round action count. Decimal accumulator: summing raw
        int64 hashes overflows ANSI long."""
        from pyspark.sql import Observation

        obs = Observation()
        chk = session.pin(e.observe(
            obs, F.count(F.lit(1)).alias("c"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ))
        got = obs.get  # the pin's job already completed the plan
        return chk, (got["c"], got["h"])

    edges, sig = _checkpoint_with_sig(_canon(
        pairs.select(F.col(id_a).cast("long").alias("u"),
                     F.col(id_b).cast("long").alias("v"))))
    # Scale-adaptive: the canonical edge count is already known from the
    # signature the pin observed. A SMALL graph (post-collapse hash graphs,
    # the tail of an LSH pass) pays ~10 driver-paced rounds x fixed job latency
    # in the star loop — while a bounded union-find over collected edges is
    # exact, deterministic, and instant. The collect is bounded by
    # driver_threshold edges (16 B each; default 64k = 1 MB) — the same
    # documented-bound pattern as kmeans_fit's k x dim pull. Billions-of-
    # edges inputs (driver_threshold exceeded) take the distributed loop;
    # pass driver_threshold=0 to force it (the loop tests do).
    if driver_threshold and sig[0] <= driver_threshold:
        parent: dict[int, int] = {}

        def _find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            u, v = row.u, row.v
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = _find(u), _find(v)
            if ru != rv:  # min id becomes the root == the star-loop rep
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        members = list(parent)
        reps = np.array([_find(m) for m in members], dtype=np.int64)
        _, inverse, counts = np.unique(reps, return_inverse=True,
                                       return_counts=True)
        # an Arrow-backed frame: the JVM decodes the batches itself, where a
        # list of tuples becomes a Python RDD that a Python worker unpickles
        # every time a downstream plan runs
        return pairs.sparkSession.createDataFrame(pa.table({
            "member_id": pa.array(members, pa.int64()),
            "cluster_rep": pa.array(reps, pa.int64()),
            "cluster_size": pa.array(counts[inverse], pa.int64()),
        }))

    for _ in range(max_rounds):
        # no distinct between the stars: small-star re-orients and min-
        # aggregates per node, so duplicate/uncanonical large-star output
        # only pads its groupBy input — one less shuffle per round
        edges, new_sig = _checkpoint_with_sig(
            _canon(_small_star(_large_star(edges))))
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"pair_clusters did not converge in {max_rounds} "
                           "rounds (O(log^2 n) expected)")
    # structural star check: no node is both a rep (u) and a member (v)
    not_star = edges.alias("a").join(
        edges.alias("b"), F.col("a.u") == F.col("b.v"), "left_semi").count()
    if not_star:
        raise RuntimeError("pair_clusters signature converged on a non-star "
                           "edge set — raise max_rounds")
    members = (edges.select(F.col("v").alias("member_id"),
                            F.col("u").alias("cluster_rep"))
               .union(edges.select(F.col("u").alias("member_id"),
                                   F.col("u").alias("cluster_rep")).distinct()))
    sizes = members.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (members.join(sizes, "cluster_rep")
            .select("member_id", "cluster_rep",
                    F.col("cluster_size").cast("long").alias("cluster_size")))


def pair_clusters_with_corpus(corpus: DataFrame, pairs: DataFrame,
                              id_col: str = "id", id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_rounds: int = 50) -> DataFrame:
    """pair_clusters over the WHOLE corpus: rows with no near-dup pair come
    back as size-1 clusters (their own rep) instead of silently vanishing —
    the call every real dedup job makes (keep one row per cluster ==
    `filter(member_id == cluster_rep)` keeps exactly the unique rows plus
    one keeper per dup group). pair_clusters itself only emits nodes that
    appear in a pair, which makes `corpus.join(clusters, ...)` without an
    outer join a predictable row-loss mistake; this wrapper is that left
    join done right. `id_col` values must be unique numeric row ids (the
    same ids the pair generator used)."""
    clusters = pair_clusters(pairs, id_a=id_a, id_b=id_b,
                             max_rounds=max_rounds)
    ids = corpus.select(F.col(id_col).cast("long").alias("member_id"))
    return (ids.join(clusters, "member_id", "left")
            .select("member_id",
                    F.coalesce("cluster_rep", F.col("member_id"))
                    .alias("cluster_rep"),
                    F.coalesce("cluster_size", F.lit(1)).cast("long")
                    .alias("cluster_size")))


def pair_clusters_sql(pairs_src: str, id_a: str = "id_a",
                      id_b: str = "id_b") -> str:
    """DuckDB twin of pair_clusters: recursive-CTE reachability closure over
    `pairs_src` (any query yielding id_a, id_b), then min reachable label
    per member. Exact same (member_id, cluster_rep, cluster_size) set —
    reachability is symmetric, so min-over-reachable == component min ==
    the star center large-star/small-star converges to."""
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

