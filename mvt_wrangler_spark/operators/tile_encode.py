"""Per-tile blob encode: real MVT protobuf + dictionary dedup (A1/S3/S6/S5).

Reference behavior being re-expressed (/root/reference/src/transform.rs):
  - per tile, per layer: rebuild keys/values dictionaries in FIRST-SEEN order
    with full-value equality (A1, transform.rs:174-191)
  - features store (key_idx, value_idx) pairs; re-encode protobuf + gzip
    (S3/S6, transform.rs:204 + processing.rs:131-155)
  - output strictly ordered by TileId (S5/W1, processing.rs:98-121)
  - the reference's tag order is nondeterministic (Rust HashMap iteration,
    transform.rs:118,160); we do better: tags are sorted at encode time so
    blobs are byte-deterministic (SURVEY §3.3).

Spark realization: groupBy(tile) -> applyInPandas encode (pandas.factorize
gives exactly first-seen-order dictionary codes, vectorized — not a per-row
position() scan) -> real gzip'd MVT-protobuf blob per tile (functions/mvt.py,
public wire format) -> repartitionByRange(tile_id).sortWithinPartitions
write = the ordered archive.

tile_dictionary_stats exposes the same dictionaries as flat columns so the
driver's DuckDB oracle can value-check the first-seen-order semantics
(the blob bytes themselves are pytest-pinned via decode round-trip).
"""

from __future__ import annotations

import gzip

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import mvt

TILE_SCHEMA = "z int, x bigint, y bigint, tile_id bigint, n_features bigint, data binary"
DICT_SCHEMA = ("z int, x bigint, y bigint, tile_id bigint, layer string, "
               "n_features bigint, n_keys int, n_values int, "
               "keys_joined string, values_joined string")

_EMPTY_CODES = np.array([], dtype=np.int64)


def _layer_dictionaries(pdf: pd.DataFrame):
    """Per-layer FIRST-SEEN-ORDER dictionaries, vectorized with
    pandas.factorize (transform.rs:174-191 semantics; the round-1 per-row
    position() loop measured ~20x slower at 1M features).

    pdf must be pre-sorted (feature order == dictionary discovery order);
    within a feature, tag keys iterate sorted (deterministic blobs).
    Yields (layer_name, info) in first-seen layer order, where info has
    keys / values (first-seen order), pair_codes (flat interleaved key/value
    index pairs), pair_counts (values per feature = 2 * n_tags) and rows
    (the layer's slice of pdf).
    """
    from itertools import chain

    sort_cache: dict = {}  # key-tuple -> sorted keys (few distinct key sets)
    cache_get = sort_cache.get
    for name, g in pdf.groupby("layer", sort=False):
        tags_list = [t if isinstance(t, dict) else {} for t in g["tags"]]
        skeys = []
        append = skeys.append
        for t in tags_list:
            kt = tuple(t)
            s = cache_get(kt)
            if s is None:
                s = sorted(kt)
                sort_cache[kt] = s
            append(s)
        counts = np.fromiter(map(len, skeys), dtype=np.int64, count=len(skeys))
        keys_flat = list(chain.from_iterable(skeys))
        if keys_flat:
            vals_flat = [t[k] for t, ks in zip(tags_list, skeys) for k in ks]
            kcodes, kuniq = pd.factorize(pd.Series(keys_flat, dtype=object))
            # full MVT-Value equality = (type, value) — bool/int/float/str
            # with equal reprs must not collapse into one dictionary slot.
            # Single-typed columns (overwhelmingly common) skip the tuple pass.
            vtypes = set(map(type, vals_flat))
            if len(vtypes) == 1:
                vcodes, vuniq = pd.factorize(pd.Series(vals_flat, dtype=object))
                values = list(vuniq)
            else:
                vcodes, vuniq_t = pd.factorize(
                    pd.Series([(type(v).__name__, v) for v in vals_flat], dtype=object))
                values = [t[1] for t in vuniq_t]
            keys = list(kuniq)
            pairs = np.empty(2 * len(kcodes), dtype=np.int64)
            pairs[0::2] = kcodes
            pairs[1::2] = vcodes
        else:
            keys, values = [], []
            pairs = _EMPTY_CODES
        yield name, {"keys": keys, "values": values, "pair_codes": pairs,
                     "pair_counts": counts * 2, "rows": g}


# -- vectorized protobuf assembly ---------------------------------------------

def _varint_stream(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 varints of an int64 array (values < 2^35): returns
    (flat uint8 byte stream in input order, per-value byte lengths)."""
    if not len(vals):
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    # int64 throughout: numpy's uint64 kernels fall back to slow paths
    # (measured 4-30x slower for exactly this function)
    v = vals.astype(np.int64, copy=False)
    if len(v) and (int(v.max()) >= (1 << 35) or int(v.min()) < 0):
        raise ValueError("varint stream values must be in [0, 2^35) "
                         "(5-byte LEB128 bound); got out-of-range input")
    lens = np.ones(len(v), np.int64)
    for t in (7, 14, 21, 28):
        lens += v >= (1 << t)
    M = np.empty((len(v), 5), np.uint8)
    for k in range(5):
        np.bitwise_and(v >> (7 * k), 0x7F, out=M[:, k], casting="unsafe")
    pos = np.arange(5)
    np.bitwise_or(M, (pos[None, :] < (lens - 1)[:, None]).view(np.uint8) * 0x80, out=M)
    return M[pos[None, :] < lens[:, None]], lens


def _ramp(lens: np.ndarray) -> np.ndarray:
    """[0..l0), [0..l1), ... as one array."""
    ends = np.cumsum(lens)
    return np.arange(int(ends[-1]) if len(ends) else 0) - np.repeat(ends - lens, lens)


def _scatter(out: np.ndarray, starts: np.ndarray, flat: np.ndarray,
             lens: np.ndarray) -> None:
    if len(flat):
        out[np.repeat(starts, lens) + _ramp(lens)] = flat


def _encode_point_features(ids, pair_codes: np.ndarray, pair_counts: np.ndarray,
                           xs: np.ndarray, ys: np.ndarray) -> bytes:
    """Concatenated length-delimited Feature messages (point geometry),
    assembled entirely in numpy — byte-identical to per-feature
    mvt.encode_feature calls (pytest-pinned), ~20x faster at 1M features."""
    n = len(xs)
    if n == 0:
        return b""
    # tag payload bytes (flat across features)
    tflat, tlens = _varint_stream(pair_codes)
    bounds = np.zeros(n + 1, np.int64)
    np.cumsum(pair_counts, out=bounds[1:])
    csum = np.zeros(len(tlens) + 1, np.int64)
    np.cumsum(tlens, out=csum[1:])
    tag_paylen = csum[bounds[1:]] - csum[bounds[:-1]]
    has_tags = tag_paylen > 0
    # geometry payload: [MoveTo|1, zz(x), zz(y)] per feature
    G = np.empty((n, 3), np.int64)
    G[:, 0] = mvt.CMD_MOVE | (1 << 3)
    G[:, 1] = (xs << 1) ^ (xs >> 63)
    G[:, 2] = (ys << 1) ^ (ys >> 63)
    gflat, glens = _varint_stream(G.reshape(-1))
    geom_paylen = glens.reshape(n, 3).sum(axis=1)
    # field lengths
    if ids is not None:
        idflat, idlens = _varint_stream(ids)
        a_len = 1 + idlens
    else:
        idflat = idlens = None
        a_len = np.zeros(n, np.int64)
    thdr_flat, thdr_lens = _varint_stream(tag_paylen[has_tags])
    b_len = np.zeros(n, np.int64)
    b_len[has_tags] = 1 + thdr_lens + tag_paylen[has_tags]
    ghdr_flat, ghdr_lens = _varint_stream(geom_paylen)
    e_len = 1 + ghdr_lens + geom_paylen
    body_len = a_len + b_len + 2 + e_len
    whdr_flat, whdr_lens = _varint_stream(body_len)
    total_len = 1 + whdr_lens + body_len
    starts = np.zeros(n, np.int64)
    np.cumsum(total_len[:-1], out=starts[1:])
    out = np.zeros(int(total_len.sum()), np.uint8)
    cur = starts.copy()
    out[cur] = 0x12  # Layer.features tag
    cur += 1
    _scatter(out, cur, whdr_flat, whdr_lens)
    cur += whdr_lens
    if ids is not None:
        out[cur] = 0x08
        cur += 1
        _scatter(out, cur, idflat, idlens)
        cur += idlens
    if has_tags.any():
        cm = cur[has_tags]
        out[cm] = 0x12
        cm += 1
        _scatter(out, cm, thdr_flat, thdr_lens)
        cur[has_tags] = cm + thdr_lens
        _scatter(out, cur, tflat, tag_paylen)
        cur += tag_paylen
    out[cur] = 0x18
    out[cur + 1] = 0x01
    cur += 2
    out[cur] = 0x22
    cur += 1
    _scatter(out, cur, ghdr_flat, ghdr_lens)
    cur += ghdr_lens
    _scatter(out, cur, gflat, geom_paylen)
    return out.tobytes()


def _encode_tile_blob(pdf: pd.DataFrame, compression: str = "gzip",
                      level: int = 6) -> bytes:
    """Encode one tile's features as an MVT protobuf blob (gzip'd by default).

    Layers appear in first-seen order; within a layer, features keep input
    order (callers pre-sort by image_id for determinism); tag keys sorted.
    Point-only tiles (px/py scalar columns) take the vectorized numpy
    assembly; tiles carrying general geometries (geom_type + tile-local
    xs/ys vertex arrays) encode LineString/Polygon command streams.

    compression/level mirror the reference's recompression stage
    (processing.rs:131-155: gzip or store-raw per the archive header; other
    codecs are rejected there too).
    """
    general = "xs" in pdf.columns and "geom_type" in pdf.columns
    rings = "xss" in pdf.columns and "geom_type" in pdf.columns
    layer_bytes = []
    for name, L in _layer_dictionaries(pdf):
        g = L["rows"]
        # MVT ids are uint64: included only when every image_id parses to a
        # non-negative int < 2^35 (the vectorized varint bound), else omitted
        ids = pd.to_numeric(g["image_id"], errors="coerce")
        idv = ids.to_numpy(dtype=np.float64)
        if np.isnan(idv).any() or (idv < 0).any() or (idv >= float(1 << 35)).any():
            idarr = None
        else:
            idarr = idv.astype(np.int64)
        if not (general or rings):
            xs = np.rint(g["px"].to_numpy(dtype=np.float64)).astype(np.int64)
            ys = np.rint(g["py"].to_numpy(dtype=np.float64)).astype(np.int64)
            frames = _encode_point_features(idarr, L["pair_codes"],
                                            L["pair_counts"], xs, ys)
            layer_bytes.append(
                mvt.encode_layer(name, L["keys"], L["values"], [], preframed=frames))
            continue
        bounds = np.zeros(len(g) + 1, np.int64)
        np.cumsum(L["pair_counts"], out=bounds[1:])
        feats = []
        if rings:
            # full geometry family: geom_type + per-ring vertex arrays
            # (holes / Multi* — transform.rs:130-139 parity)
            for i, (gt, rxs, rys) in enumerate(zip(g["geom_type"], g["xss"], g["yss"])):
                rxi = [np.rint(np.asarray(r, np.float64)).astype(np.int64).tolist()
                       for r in rxs]
                ryi = [np.rint(np.asarray(r, np.float64)).astype(np.int64).tolist()
                       for r in rys]
                geom = mvt.multi_geometry(gt, rxi, ryi)
                tags = L["pair_codes"][bounds[i]:bounds[i + 1]].tolist()
                fid = int(idarr[i]) if idarr is not None else None
                feats.append(mvt.encode_feature(fid, tags, geom, mvt.GEOM_TYPE[gt]))
            layer_bytes.append(mvt.encode_layer(name, L["keys"], L["values"], feats))
            continue
        for i, (gt, vxs, vys) in enumerate(zip(g["geom_type"], g["xs"], g["ys"])):
            xi = np.rint(np.asarray(vxs, np.float64)).astype(np.int64).tolist()
            yi = np.rint(np.asarray(vys, np.float64)).astype(np.int64).tolist()
            if gt == "LineString" and len(xi) >= 2:
                geom = mvt.linestring_geometry(xi, yi)
            elif gt == "Polygon" and len(xi) >= 3:
                geom = mvt.polygon_geometry(xi, yi)
            else:
                gt = "Point"
                geom = mvt.point_geometry(xi[0], yi[0])
            tags = L["pair_codes"][bounds[i]:bounds[i + 1]].tolist()
            fid = int(idarr[i]) if idarr is not None else None
            feats.append(mvt.encode_feature(fid, tags, geom, mvt.GEOM_TYPE[gt]))
        layer_bytes.append(mvt.encode_layer(name, L["keys"], L["values"], feats))
    raw = mvt.encode_tile(layer_bytes)
    if compression == "none":
        return raw
    if compression != "gzip":
        raise ValueError(f"unsupported tile compression: {compression}")
    # mtime=0: gzip stamps wall-clock MTIME into byte 4-7 by default, which
    # would make re-executions of the same lazy plan produce different blob
    # bytes across seconds — blobs must be byte-deterministic (SURVEY §3.3)
    return gzip.compress(raw, level, mtime=0)


def encode_tiles(df: DataFrame, compression: str = "gzip", level: int = 6,
                 n_partitions: int | None = None) -> DataFrame:
    """Encode each tile's rows to an MVT blob.

    Physical shape: repartition on tile_id (each tile lands whole in one
    partition) + partition-local sort, then ONE mapInPandas pass that splits
    tiles inside each Arrow batch, carrying the trailing (possibly
    batch-spanning) tile into the next batch. groupBy().applyInPandas pays
    per-GROUP overhead — at web-map zooms tiles are many and small, which is
    exactly where it hurts: measured 55 s -> 18.6 s (3.0x) at sf0.1/z9
    (196k tiles of ~3 rows) and ~15% at z6 (4k tiles of ~150 rows), with
    identical output. One Python round trip per PARTITION, not per tile.

    Geometry comes from px/py point columns, or — when geom_type/xs/ys
    columns are present — general tile-local vertex arrays (LineString /
    Polygon command streams). compression="none" stores raw protobuf
    (header-codec passthrough parity, processing.rs:131-155)."""
    dfc = set(df.columns)
    cols = ["z", "x", "y", "tile_id", "image_id", "layer", "tags"]
    if {"geom_type", "xss", "yss"} <= dfc:
        cols += ["geom_type", "xss", "yss"]   # ring-structured geometries
    elif {"geom_type", "xs", "ys"} <= dfc:
        cols += ["geom_type", "xs", "ys"]
    else:
        cols += ["px", "py"]
    n = n_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    pre = (df.select(*cols)
           .repartition(n, "tile_id")
           .sortWithinPartitions("tile_id", "image_id"))

    def _encode_groups(pdf):
        rows = {"z": [], "x": [], "y": [], "tile_id": [], "n_features": [], "data": []}
        for (z, x, y, tid), g in pdf.groupby(["z", "x", "y", "tile_id"], sort=True):
            # rows arrive (tile_id, image_id)-sorted from the partition sort;
            # keep the defensive stable sort (cheap on sorted input)
            g = g.sort_values("image_id", kind="mergesort")
            rows["z"].append(z)
            rows["x"].append(x)
            rows["y"].append(y)
            rows["tile_id"].append(tid)
            rows["n_features"].append(len(g))
            rows["data"].append(_encode_tile_blob(g, compression=compression, level=level))
        return pd.DataFrame(rows)

    def _encode_iter(pdfs):
        carry = None
        for pdf in pdfs:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_tid = pdf["tile_id"].iloc[-1]
            tail = pdf["tile_id"] == last_tid
            carry = pdf[tail]  # may continue in the next Arrow batch
            body = pdf[~tail]
            if len(body):
                yield _encode_groups(body)
        if carry is not None and len(carry):
            yield _encode_groups(carry)

    return pre.mapInPandas(_encode_iter, TILE_SCHEMA)


def tile_dictionary_stats(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """One row per (tile, layer): the encoder's dictionaries as flat columns
    (keys_joined / values_joined in first-seen order) — shares
    _layer_dictionaries with the blob encoder, so the driver's SQL oracle
    value-checks the exact dictionary logic the archive sink uses. Same
    partition-sorted mapInPandas shape as encode_tiles (one Python round
    trip per partition, not per tile)."""
    cols = ["z", "x", "y", "tile_id", "image_id", "layer", "tags", "px", "py"]
    n = n_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    pre = (df.select(*cols)
           .repartition(n, "tile_id")
           .sortWithinPartitions("tile_id", "image_id"))

    def _stat_groups(pdf):
        rows = []
        for (z, x, y, tid), g in pdf.groupby(["z", "x", "y", "tile_id"], sort=True):
            g = g.sort_values("image_id", kind="mergesort")
            for name, L in _layer_dictionaries(g):
                rows.append({
                    "z": z, "x": x, "y": y, "tile_id": tid, "layer": name,
                    "n_features": int(len(L["rows"])),
                    "n_keys": len(L["keys"]), "n_values": len(L["values"]),
                    "keys_joined": ",".join(L["keys"]),
                    "values_joined": ",".join(str(v) for v in L["values"]),
                })
        return pd.DataFrame(rows)

    def _stats_iter(pdfs):
        carry = None
        for pdf in pdfs:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            tail = pdf["tile_id"] == pdf["tile_id"].iloc[-1]
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _stat_groups(body)
        if carry is not None and len(carry):
            yield _stat_groups(carry)

    return pre.mapInPandas(_stats_iter, DICT_SCHEMA)


_FEATURE_COLS = ("layer string, feature_id bigint, tags map<string,{tags}>, "
                 "geom_type string, ring_lens array<int>, "
                 "pxs array<double>, pys array<double>")
FEATURE_SCHEMA = ("z int, x bigint, y bigint, tile_id bigint, "
                  + _FEATURE_COLS.format(tags="string"))
VALUE_STRUCT_DDL = "struct<t:int,s:string,i:bigint,f:double,fs:string,b:boolean>"
FEATURE_SCHEMA_TYPED = ("z int, x bigint, y bigint, tile_id bigint, "
                        + _FEATURE_COLS.format(tags=VALUE_STRUCT_DDL))

def decode_tiles(tiles: DataFrame, typed: bool = False) -> DataFrame:
    """Inverse of encode_tiles: MVT blobs -> one row per feature (the S2+S3
    READ path: the engine consumes archives it — or any MVT writer — wrote,
    which closes the reference's decode -> transform -> re-encode loop,
    transform.rs:79-80). Tags rebuild from the layer dictionaries.

    typed=False stringifies values into the engine's map<string,string> tag
    column; typed=True preserves the Value oneof as the expr layer's
    map<string, struct<t,s,i,f,fs,b>> (transform.rs:118-128 parity — `5`
    and `"5"` stay distinguishable through the archive round-trip).

    Geometry comes back ring-structured: pxs/pys hold ALL vertices in
    stream order, ring_lens the per-ring vertex counts (holes and Multi*
    parts round-trip — spec 4.3.4.4/4.3.4.5).

    One mapInArrow pass: one numpy varint parse per Arrow batch,
    pointer-jumped field/command walks, Arrow-native Map/List output
    (functions/mvt_np.py) — no per-feature Python objects anywhere.
    Batches outside the pure-varint contract fall back to the scalar
    flattener automatically."""
    from ..functions import mvt_np

    schema = FEATURE_SCHEMA_TYPED if typed else FEATURE_SCHEMA

    def _dec(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            blobs = batch.column("data").to_pylist()
            try:
                flat = mvt_np.flatten_np(blobs)
            except mvt_np.VarintFallback:
                flat = mvt_np.flatten_scalar(blobs)
            yield mvt_np.to_record_batch(flat, batch, typed)

    return tiles.select("z", "x", "y", "tile_id", "data").mapInArrow(_dec, schema)


def decode_tile_blob(data: bytes) -> dict:
    """Inverse of _encode_tile_blob (tests + downstream readers); sniffs the
    gzip magic so raw-stored blobs (compression='none') decode too."""
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    return mvt.decode_tile(data)


def write_archive(tiles: DataFrame, path: str, n_partitions: int | None = None) -> None:
    """The ordered archive sink: range-partitioned, sorted by tile_id (S5/W1)."""
    n = n_partitions or max(tiles.sparkSession.sparkContext.defaultParallelism, 8)
    (
        tiles.repartitionByRange(n, "tile_id")
        .sortWithinPartitions("tile_id")
        .write.mode("overwrite")
        .parquet(path)
    )
