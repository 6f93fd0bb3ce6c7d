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

Spark realization: repartition(tile_id) + partition sort -> one mapInArrow
pass -> real gzip'd MVT-protobuf blob per tile (functions/mvt.py, public
wire format); the sinks (catalog.SnapshotTable, pmtiles.write_pmtiles)
write the tiles in tile_id order. Point tiles are encoded a whole Arrow
batch at a time (_encode_point_table: factorize gives first-seen-order
dictionary codes, numpy frames the protobuf); general geometries one tile
at a time (_encode_tile_blob). Both produce the same bytes for point tiles
(pytest-pinned).

tile_dictionary_stats exposes the per-tile encoder's dictionaries as flat
columns so the driver's DuckDB oracle can value-check the first-seen-order
semantics (the blob bytes themselves are pytest-pinned via decode
round-trip and against scalar framing).
"""

from __future__ import annotations

import gzip

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..functions import mvt
from .expr import VALUE_STRUCT_DDL

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
    return _point_frames(ids, pair_codes, pair_counts, xs, ys)[0].tobytes()


def _point_frames(ids, pair_codes: np.ndarray, pair_counts: np.ndarray,
                  xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """_encode_point_features as (uint8 frames, frame length per feature).
    `ids` is None (no feature has an id) or int64 with -1 where a feature
    has none."""
    n = len(xs)
    if n == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
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
    a_len = np.zeros(n, np.int64)
    if ids is not None:
        has_id = ids >= 0
        idflat, idlens = _varint_stream(ids[has_id])
        a_len[has_id] = 1 + idlens
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
    if ids is not None and has_id.any():
        cm = cur[has_id]
        out[cm] = 0x08
        cm += 1
        _scatter(out, cm, idflat, idlens)
        cur[has_id] = cm + idlens
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
    return out, total_len


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


_DICT_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
                         ("tile_id", pa.int64()), ("layer", pa.string()),
                         ("n_features", pa.int64()), ("n_keys", pa.int32()),
                         ("n_values", pa.int32()), ("keys_joined", pa.string()),
                         ("values_joined", pa.string())])
_TILE_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
                         ("tile_id", pa.int64()), ("n_features", pa.int64()),
                         ("data", pa.binary())])


def _split_tiles(batches):
    """Arrow batches sorted on tile_id -> tables of whole tiles: the
    trailing (possibly batch-spanning) tile of each batch is carried into
    the next one."""
    carry = None
    for rb in batches:
        tb = pa.Table.from_batches([rb])
        if carry is not None:
            tb = pa.concat_tables([carry, tb])
        if not tb.num_rows:
            continue
        tid = tb.column("tile_id").to_numpy()
        cut = int(np.searchsorted(tid, tid[-1]))
        if cut:
            yield tb.slice(0, cut)
        carry = tb.slice(cut)
    if carry is not None and carry.num_rows:
        yield carry


def _to_pandas(tb: pa.Table) -> pd.DataFrame:
    """The pandas frame mapInPandas would hand over (maps as dicts)."""
    return tb.to_pandas(maps_as_pydicts="lossy")


def _encode_groups(pdf: pd.DataFrame, compression: str, level: int) -> pa.RecordBatch:
    """The per-tile encoder: one _encode_tile_blob call per tile."""
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
    return pa.RecordBatch.from_pandas(pd.DataFrame(rows), schema=_TILE_ARROW,
                                      preserve_index=False)


def _first_seen_local(group: np.ndarray, codes: np.ndarray, n_codes: int, n_groups: int):
    """Per-group FIRST-SEEN dictionary codes of `codes` (ids in
    [0, n_codes)), for entries ordered group by group: one factorize over
    (group, code) pairs, whose global first-seen order restricted to a
    group is that group's order. Returns (local code per entry, the
    dictionary's global code ids in group-major order, dictionary size per
    group)."""
    pair_codes, pairs = pd.factorize(group * n_codes + codes)
    per_group = np.bincount(pairs // n_codes, minlength=n_groups)
    base = np.zeros(n_groups, np.int64)
    np.cumsum(per_group[:-1], out=base[1:])
    return pair_codes - base[group], pairs % n_codes, per_group


def _pool(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Byte strings -> (concatenated uint8, start offsets, lengths)."""
    lens = np.fromiter(map(len, chunks), np.int64, len(chunks))
    starts = np.zeros(len(chunks), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return np.frombuffer(b"".join(chunks), np.uint8), starts, lens


def _fast_values(vals: pa.Array) -> bool:
    """Tag values the batch encoder dedups exactly as pandas.factorize over
    Python objects does: non-null strings, ints, bools, and floats other
    than NaN and -0.0 (factorize drops NaN and collapses -0.0 with 0.0)."""
    t = vals.type
    if vals.null_count:
        return False
    if pa.types.is_floating(t):
        v = vals.to_numpy()
        return not (np.isnan(v).any() or (np.signbit(v) & (v == 0)).any())
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_integer(t) or pa.types.is_boolean(t))


def _encode_point_table(tb: pa.Table, compression: str, level: int) -> pa.RecordBatch:
    """Encode every point tile of `tb` (rows sorted on tile_id, then
    image_id) in one numpy pass: byte-identical to one _encode_tile_blob
    call per tile (pytest-pinned).

    One factorize over (tile, layer) orders the features into layers; one
    factorize each over (layer, key) and (layer, value) gives every layer's
    FIRST-SEEN dictionaries; _point_frames frames all features at once. A
    tile is a sequence of byte segments (layer header, name, features, key
    and value entries, extent), gathered from one pool with one index. Only
    the gzip runs per tile. Tag values that pandas would dedup differently
    (see _fast_values) take the per-tile encoder."""
    def col(name):
        return tb.column(name).combine_chunks()

    n = tb.num_rows
    tid = col("tile_id").to_numpy()
    tstart = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1]])
    n_tiles = len(tstart)
    tile_of = np.repeat(np.arange(n_tiles), np.diff(np.r_[tstart, n]))

    # features in (tile, first-seen layer) order; within a layer, image_id
    # order with nulls last (the per-tile encoder's stable sort); null
    # layers are not encoded (pandas groupby drops them)
    lay = col("layer").dictionary_encode()
    lcode = lay.indices.fill_null(-1).to_numpy().astype(np.int64)
    rows = np.lexsort((col("image_id").is_null().to_numpy(zero_copy_only=False), tile_of))
    rows = rows[lcode[rows] >= 0]
    n_lay = max(len(lay.dictionary), 1)
    gcode, gkey = pd.factorize(tile_of[rows] * n_lay + lcode[rows])
    order = np.argsort(gcode, kind="stable")
    feat, fgroup = rows[order], gcode[order].astype(np.int64)
    n_groups = len(gkey)
    g_tile, g_layer = gkey // n_lay, gkey % n_lay

    # tag entries of each feature, keys sorted within the feature
    tags = col("tags")
    off = tags.offsets.to_numpy().astype(np.int64)
    cnt = np.diff(off)
    cnt[tags.is_null().to_numpy(zero_copy_only=False)] = 0
    fcnt = cnt[feat]
    eidx = np.repeat(off[:-1][feat], fcnt) + _ramp(fcnt)
    vals = tags.items.take(pa.array(eidx))
    if not _fast_values(vals):
        return _encode_groups(_to_pandas(tb), compression, level)
    kd = tags.keys.take(pa.array(eidx)).dictionary_encode()
    vd = vals.dictionary_encode()
    kcode = kd.indices.to_numpy().astype(np.int64)
    vcode = vd.indices.to_numpy().astype(np.int64)
    n_keys, n_vals = max(len(kd.dictionary), 1), max(len(vd.dictionary), 1)
    krank = np.empty(len(kd.dictionary), np.int64)
    krank[pc.sort_indices(kd.dictionary).to_numpy()] = np.arange(len(kd.dictionary))
    fpos = np.repeat(np.arange(len(feat)), fcnt)
    esort = np.lexsort((krank[kcode], fpos))
    kcode, vcode = kcode[esort], vcode[esort]
    egroup = fgroup[fpos]
    klocal, kdict, nk = _first_seen_local(egroup, kcode, n_keys, n_groups)
    vlocal, vdict, nv = _first_seen_local(egroup, vcode, n_vals, n_groups)
    pair_codes = np.empty(2 * len(kcode), np.int64)
    pair_codes[0::2] = klocal
    pair_codes[1::2] = vlocal

    # MVT ids: per layer, only when every image_id parses to [0, 2^35)
    idv = pd.to_numeric(pd.Series(col("image_id").to_numpy(zero_copy_only=False)),
                        errors="coerce").to_numpy(dtype=np.float64)[feat]
    bad = np.isnan(idv) | (idv < 0) | (idv >= float(1 << 35))
    g_bad = np.bincount(fgroup, weights=bad, minlength=n_groups) > 0
    ids = np.where(bad | g_bad[fgroup], -1, np.nan_to_num(idv)).astype(np.int64)
    xs = np.rint(col("px").to_numpy(zero_copy_only=False).astype(np.float64)[feat]).astype(np.int64)
    ys = np.rint(col("py").to_numpy(zero_copy_only=False).astype(np.float64)[feat]).astype(np.int64)
    frames, flen = _point_frames(ids, pair_codes, 2 * fcnt, xs, ys)
    g_frames = np.bincount(fgroup, weights=flen, minlength=n_groups).astype(np.int64)

    # byte pools: frames | keys | values | layer heads | extent trailer
    kpool = _pool([mvt._ld(3, k.encode("utf-8")) for k in kd.dictionary.to_pylist()])
    vpool = _pool([mvt._ld(4, mvt.encode_value(v)) for v in vd.dictionary.to_pylist()])
    hpool = _pool([mvt._tag(15, 0) + mvt.uvarint(2) + mvt._ld(1, name.encode("utf-8"))
                   for name in lay.dictionary.to_pylist()])
    trailer = mvt._tag(5, 0) + mvt.uvarint(4096)
    k_at = len(frames)
    v_at = k_at + len(kpool[0])
    h_at = v_at + len(vpool[0])
    t_at = h_at + len(hpool[0])

    # layer = head + features + key entries + value entries + trailer
    kgroup = np.repeat(np.arange(n_groups), nk)
    vgroup = np.repeat(np.arange(n_groups), nv)
    layer_len = (hpool[2][g_layer] + g_frames + len(trailer)
                 + np.bincount(kgroup, weights=kpool[2][kdict], minlength=n_groups).astype(np.int64)
                 + np.bincount(vgroup, weights=vpool[2][vdict], minlength=n_groups).astype(np.int64))
    lhdr_flat, lhdr_lens = _varint_stream(layer_len)
    lhdr_len = 1 + lhdr_lens                        # Tile.layers tag + length
    lhdr = np.empty(int(lhdr_len.sum()), np.uint8)
    lh_start = np.zeros(n_groups, np.int64)
    np.cumsum(lhdr_len[:-1], out=lh_start[1:])
    lhdr[lh_start] = 0x1A
    _scatter(lhdr, lh_start + 1, lhdr_flat, lhdr_lens)
    lh_at = t_at + len(trailer)
    pool = np.concatenate([frames, kpool[0], vpool[0], hpool[0],
                           np.frombuffer(trailer, np.uint8), lhdr])

    # segments in output order: per layer [header, head, features, keys...,
    # values..., trailer]
    n_seg = 4 + nk + nv
    seg0 = np.zeros(n_groups, np.int64)
    np.cumsum(n_seg[:-1], out=seg0[1:])
    src = np.empty(int(n_seg.sum()), np.int64)
    ln = np.empty_like(src)
    f_start = np.zeros(n_groups, np.int64)
    np.cumsum(g_frames[:-1], out=f_start[1:])
    src[seg0], ln[seg0] = lh_at + lh_start, lhdr_len
    src[seg0 + 1], ln[seg0 + 1] = h_at + hpool[1][g_layer], hpool[2][g_layer]
    src[seg0 + 2], ln[seg0 + 2] = f_start, g_frames
    kpos = seg0[kgroup] + 3 + _ramp(nk)
    src[kpos], ln[kpos] = k_at + kpool[1][kdict], kpool[2][kdict]
    vpos = seg0[vgroup] + 3 + nk[vgroup] + _ramp(nv)
    src[vpos], ln[vpos] = v_at + vpool[1][vdict], vpool[2][vdict]
    last = seg0 + n_seg - 1
    src[last], ln[last] = t_at, len(trailer)
    raw = pool[np.repeat(src, ln) + _ramp(ln)].tobytes()

    tile_bytes = np.bincount(g_tile, weights=lhdr_len + layer_len, minlength=n_tiles)
    ends = np.cumsum(tile_bytes.astype(np.int64))
    starts = ends - tile_bytes.astype(np.int64)
    if compression == "none":
        blobs = [raw[a:b] for a, b in zip(starts.tolist(), ends.tolist())]
    elif compression == "gzip":
        # mtime=0: byte-deterministic blobs (see _encode_tile_blob)
        blobs = [gzip.compress(raw[a:b], level, mtime=0)
                 for a, b in zip(starts.tolist(), ends.tolist())]
    else:
        raise ValueError(f"unsupported tile compression: {compression}")
    return pa.RecordBatch.from_arrays(
        [col("z").take(pa.array(tstart)).cast(pa.int32()),
         col("x").take(pa.array(tstart)).cast(pa.int64()),
         col("y").take(pa.array(tstart)).cast(pa.int64()),
         pa.array(tid[tstart], pa.int64()),
         pa.array(np.diff(np.r_[tstart, n]), pa.int64()),
         pa.array(blobs, pa.binary())], schema=_TILE_ARROW)


def encode_tiles(df: DataFrame, compression: str = "gzip", level: int = 6,
                 n_partitions: int | None = None) -> DataFrame:
    """Encode each tile's rows to an MVT blob.

    Physical shape: repartition on tile_id (each tile lands whole in one
    partition) + partition-local sort, then ONE mapInArrow pass that splits
    tiles inside each Arrow batch, carrying the trailing (possibly
    batch-spanning) tile into the next batch. One Python round trip per
    PARTITION, not per tile (groupBy().applyInPandas measured 3.0x slower
    at sf0.1/z9, 196k tiles of ~3 rows).

    Point tiles (px/py columns) are encoded by _encode_point_table: one
    numpy pass per Arrow batch builds every tile's layers, dictionaries and
    feature frames, then gzips each tile. It replaced a per-tile pandas
    loop that cost 1.73-1.96 Python-worker CPU-s per `curate` op (2,446
    keepers in 566 tiles, 4 cores), against 0.38-0.47 for an identity
    mapInPandas over the same rows; the blobs are byte-identical. Tiles
    with general geometries — geom_type plus xs/ys vertex arrays
    (LineString / Polygon command streams) or xss/yss rings — keep one
    _encode_tile_blob call per tile. compression="none" stores raw protobuf
    (header-codec passthrough parity, processing.rs:131-155)."""
    dfc = set(df.columns)
    cols = ["z", "x", "y", "tile_id", "image_id", "layer", "tags"]
    point = False
    if {"geom_type", "xss", "yss"} <= dfc:
        cols += ["geom_type", "xss", "yss"]   # ring-structured geometries
    elif {"geom_type", "xs", "ys"} <= dfc:
        cols += ["geom_type", "xs", "ys"]
    else:
        cols += ["px", "py"]
        point = True
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    pre = (df.select(*cols)
           .repartition(n, "tile_id")
           .sortWithinPartitions("tile_id", "image_id"))

    def _encode_iter(batches):
        for tb in _split_tiles(batches):
            if point:
                yield _encode_point_table(tb, compression, level)
            else:
                yield _encode_groups(_to_pandas(tb), compression, level)

    return pre.mapInArrow(_encode_iter, TILE_SCHEMA)


def tile_dictionary_stats(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """One row per (tile, layer): the encoder's dictionaries as flat columns
    (keys_joined / values_joined in first-seen order) — shares
    _layer_dictionaries with the per-tile blob encoder, whose bytes the
    batch encoder's are pinned to, so the driver's SQL oracle value-checks
    the dictionary semantics the archive sink uses. Same partition-sorted
    mapInArrow shape as encode_tiles (one Python round trip per partition,
    not per tile)."""
    cols = ["z", "x", "y", "tile_id", "image_id", "layer", "tags", "px", "py"]
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
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
        return pa.RecordBatch.from_pylist(rows, schema=_DICT_ARROW)

    def _stats_iter(batches):
        for tb in _split_tiles(batches):
            yield _stat_groups(_to_pandas(tb))

    return pre.mapInArrow(_stats_iter, DICT_SCHEMA)


_FEATURE_COLS = ("layer string, feature_id bigint, tags map<string,{tags}>, "
                 "geom_type string, ring_lens array<int>, "
                 "pxs array<double>, pys array<double>")
FEATURE_SCHEMA = ("z int, x bigint, y bigint, tile_id bigint, "
                  + _FEATURE_COLS.format(tags="string"))
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
