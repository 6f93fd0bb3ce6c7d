"""PMTiles v3 archive writer/reader — the reference's actual container format.

The reference reads and writes PMTiles archives via the pmtiles crate
(/root/reference/src/lib.rs:68 open, :83-95 writer config + finalize); this
module implements the PUBLIC PMTiles v3 spec (header + varint directories +
clustered data section) so the engine's sorted tile table can be exported to
a real `.pmtiles` file a PMTiles client can serve, and existing archives can
be read back.

Spark-scale story: the distributed archive IS the range-partitioned parquet
tile table (catalog.SnapshotTable); PMTiles is a SERVING
format — a single file assembled in one ordered pass. write_pmtiles runs
one Spark write: each partition of the tiles, sorted on tile_id, becomes
one uncompressed parquet file of (tile_id, z, data). The driver k-way
merges those files by tile_id (one small batch per file in memory, never a
full collect); each blob is APPENDED to a temp data file the moment it
arrives, and leaf directories are encoded + compressed + spilled to a
second temp file every `leaf_size` entries, so driver memory is bounded at
O(part files x batch + leaf_size entries + one root entry per leaf + the
capped dedup map) regardless of archive size. Identical consecutive blobs
deduplicate via run-length entries; identical non-consecutive blobs share
one data offset via a size-capped sha1 map (clustered + deduplicated, as
the spec encourages; past the cap new duplicates are stored again — a
space trade-off, never a correctness one).

Layout written: 127-byte header | gzip'd root directory | gzip'd JSON
metadata | leaf directory section | tile data. Archives up to `leaf_size`
entries get a root-only directory; larger ones split into leaf directories
(root entries with run_length=0 point at leaf offsets, per the v3 spec) —
the root is therefore always <= leaf_size entries. The reader handles both
forms, resolving leaves lazily (get_tile touches one leaf; the distributed
scan ships leaf POINTERS to executors, which decode their own leaves, so
the full entry list never materializes on the driver).
"""

from __future__ import annotations

import contextlib
import glob
import gzip
import hashlib
import heapq
import json
import os
import shutil
import struct
from dataclasses import dataclass
from operator import itemgetter

HEADER_LEN = 127
MAGIC = b"PMTiles"
COMPRESSION_NONE, COMPRESSION_GZIP = 1, 2
TILETYPE_MVT = 1


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def encode_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """Entries: (tile_id, offset, length, run_length), sorted by tile_id.
    Spec layout: count | tile_id deltas | run_lengths | lengths | offsets
    (offset field = 0 when this entry starts at prev offset+length, else
    offset+1)."""
    out = bytearray(_uvarint(len(entries)))
    last_id = 0
    for tid, _, _, _ in entries:
        out += _uvarint(tid - last_id)
        last_id = tid
    for _, _, _, rl in entries:
        out += _uvarint(rl)
    for _, _, ln, _ in entries:
        out += _uvarint(ln)
    for i, (_, off, ln, _) in enumerate(entries):
        if i > 0 and off == entries[i - 1][1] + entries[i - 1][2]:
            out += _uvarint(0)
        else:
            out += _uvarint(off + 1)
    return bytes(out)


def decode_directory(buf: bytes) -> list[tuple[int, int, int, int]]:
    n, pos = _read_uvarint(buf, 0)
    ids, rls, lns, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, pos = _read_uvarint(buf, pos)
        last += d
        ids.append(last)
    for _ in range(n):
        v, pos = _read_uvarint(buf, pos)
        rls.append(v)
    for _ in range(n):
        v, pos = _read_uvarint(buf, pos)
        lns.append(v)
    for i in range(n):
        v, pos = _read_uvarint(buf, pos)
        if v == 0:
            offs.append(offs[i - 1] + lns[i - 1])
        else:
            offs.append(v - 1)
    return list(zip(ids, offs, lns, rls))


@dataclass
class Header:
    root_offset: int = 0
    root_len: int = 0
    meta_offset: int = 0
    meta_len: int = 0
    leaf_offset: int = 0
    leaf_len: int = 0
    data_offset: int = 0
    data_len: int = 0
    addressed_tiles: int = 0
    tile_entries: int = 0
    tile_contents: int = 0
    clustered: bool = True
    internal_compression: int = COMPRESSION_GZIP
    tile_compression: int = COMPRESSION_GZIP
    tile_type: int = TILETYPE_MVT
    min_zoom: int = 0
    max_zoom: int = 0
    min_lon_e7: int = -1800000000
    min_lat_e7: int = -850000000
    max_lon_e7: int = 1800000000
    max_lat_e7: int = 850000000
    center_zoom: int = 0
    center_lon_e7: int = 0
    center_lat_e7: int = 0

    def pack(self) -> bytes:
        return (
            MAGIC + bytes([3])
            + struct.pack(
                "<11Q", self.root_offset, self.root_len, self.meta_offset,
                self.meta_len, self.leaf_offset, self.leaf_len,
                self.data_offset, self.data_len, self.addressed_tiles,
                self.tile_entries, self.tile_contents)
            + bytes([1 if self.clustered else 0, self.internal_compression,
                     self.tile_compression, self.tile_type,
                     self.min_zoom, self.max_zoom])
            + struct.pack("<4i", self.min_lon_e7, self.min_lat_e7,
                          self.max_lon_e7, self.max_lat_e7)
            + bytes([self.center_zoom])
            + struct.pack("<2i", self.center_lon_e7, self.center_lat_e7)
        )

    @staticmethod
    def unpack(buf: bytes) -> "Header":
        assert buf[:7] == MAGIC, "not a PMTiles archive"
        assert buf[7] == 3, f"unsupported PMTiles version {buf[7]}"
        q = struct.unpack("<11Q", buf[8:96])
        flags = buf[96:102]
        i4 = struct.unpack("<4i", buf[102:118])
        cz = buf[118]
        c2 = struct.unpack("<2i", buf[119:127])
        return Header(*q, bool(flags[0]), flags[1], flags[2], flags[3],
                      flags[4], flags[5], *i4, cz, *c2)


DEFAULT_LEAF_SIZE = 16384


@contextlib.contextmanager
def _merged_parts(parts_dir: str):
    """(tile_id, z, data) of every part file under `parts_dir`, k-way merged
    by tile_id. Each file is one tile_id-sorted partition; a buffered reader
    holds one small batch per file, never a whole row group. The files
    close when the context exits."""
    import pyarrow.parquet as pq

    with contextlib.ExitStack() as files:
        def rows(fn):
            pf = pq.ParquetFile(files.enter_context(open(fn, "rb")),
                                buffer_size=1 << 20)
            for b in pf.iter_batches(batch_size=1024,
                                     columns=["tile_id", "z", "data"]):
                yield from zip(*(col.to_pylist() for col in b.columns))

        yield heapq.merge(*(rows(fn) for fn in
                            sorted(glob.glob(os.path.join(parts_dir, "*.parquet")))),
                          key=itemgetter(0))


def write_pmtiles(tiles_df, path: str, metadata: dict | None = None,
                  tile_compression: int = COMPRESSION_GZIP,
                  leaf_size: int = DEFAULT_LEAF_SIZE,
                  max_dedup_blobs: int = 1 << 20) -> dict:
    """Write a PMTiles v3 archive from a tiles DataFrame
    (z, tile_id, data, ...) — blobs as stored (gzip'd MVT from
    encode_tiles). One Spark write: each partition, sorted on tile_id,
    lands as one uncompressed parquet file of (tile_id, z, data) in
    `path + ".parts"`; the driver k-way merges those files by tile_id into
    the archive. The input runs once (no range-sampling job, no second
    pass of its Python encoder), whatever its partitioning.

    SCALE-SAFE: the merge holds one small batch per part file, blobs
    stream straight to a temp data file, and once the directory exceeds
    `leaf_size` entries it switches to leaf mode — every `leaf_size`
    entries are encoded, gzip'd and appended to a temp leaf file, keeping
    only one root pointer entry per leaf in memory. Peak driver state is
    therefore O(part files x batch + leaf_size + n_entries/leaf_size +
    min(unique_blobs, max_dedup_blobs)) whatever the archive size. Final
    assembly splices header | root | metadata | leaf section | data section
    with bounded-chunk file copies. The part files and temp files are
    deleted before returning, also when the write fails (a duplicate
    tile_id, a Spark job error).

    Returns summary stats (incl. `peak_buffered_entries` so tests can assert
    the bound). Mirrors the reference's writer setup + finalize
    (src/lib.rs:82-95, processing.rs:98-121)."""
    parts = path + ".parts"
    tmp_data, tmp_leaf = path + ".data.tmp", path + ".leaf.tmp"
    entries: list[tuple[int, int, int, int]] = []   # pending (<= leaf_size+1)
    root_entries: list[tuple[int, int, int, int]] = []  # leaf pointers (run=0)
    blob_offsets: dict[bytes, tuple[int, int]] = {}  # sha1 -> (offset, len), capped
    zmin, zmax = 99, 0
    n_addressed = n_entries = n_contents = 0
    data_len = leaf_len = 0
    peak_buffered = 0
    leaf_mode = False
    last_id = -1
    try:
        # uncompressed: the blobs are compressed already
        (tiles_df.select("tile_id", "z", "data").sortWithinPartitions("tile_id")
         .write.mode("overwrite").option("compression", "uncompressed")
         .parquet(parts))
        with open(tmp_data, "wb") as data_f, open(tmp_leaf, "wb") as leaf_f, \
                _merged_parts(parts) as tiles:

            def flush_leaf() -> None:
                nonlocal leaf_len
                comp = gzip.compress(encode_directory(entries), 6, mtime=0)
                root_entries.append((entries[0][0], leaf_len, len(comp), 0))
                leaf_f.write(comp)
                leaf_len += len(comp)
                entries.clear()

            for tid, z, blob in tiles:
                if tid <= last_id:
                    raise ValueError(f"tile ids must be strictly ascending/unique: "
                                     f"{tid} after {last_id}")
                last_id = tid
                digest = hashlib.sha1(blob).digest()
                n_addressed += 1
                zmin, zmax = min(zmin, z), max(zmax, z)
                if entries and digest in blob_offsets \
                        and blob_offsets[digest][0] == entries[-1][1] \
                        and entries[-1][0] + entries[-1][3] == tid:
                    # identical blob contiguous in id space: extend the run
                    tid0, off, ln, rl = entries[-1]
                    entries[-1] = (tid0, off, ln, rl + 1)
                    continue
                if digest in blob_offsets:
                    off, ln = blob_offsets[digest]  # deduplicated content
                else:
                    off, ln = data_len, len(blob)
                    data_f.write(blob)
                    data_len += ln
                    n_contents += 1
                    if len(blob_offsets) < max_dedup_blobs:
                        blob_offsets[digest] = (off, ln)
                entries.append((tid, off, ln, 1))
                n_entries += 1
                peak_buffered = max(peak_buffered, len(entries))
                if not leaf_mode and len(entries) > leaf_size:
                    leaf_mode = True
                if leaf_mode and len(entries) >= leaf_size:
                    flush_leaf()

            if leaf_mode and entries:
                flush_leaf()
        root_dir = root_entries if leaf_mode else entries

        root = gzip.compress(encode_directory(root_dir), 6, mtime=0)
        meta = gzip.compress(json.dumps(metadata or {}, separators=(",", ":")).encode(),
                             6, mtime=0)
        leaf_offset = HEADER_LEN + len(root) + len(meta)
        hdr = Header(
            root_offset=HEADER_LEN, root_len=len(root),
            meta_offset=HEADER_LEN + len(root), meta_len=len(meta),
            leaf_offset=leaf_offset, leaf_len=leaf_len,
            data_offset=leaf_offset + leaf_len, data_len=data_len,
            addressed_tiles=n_addressed, tile_entries=n_entries,
            tile_contents=n_contents, clustered=True,
            tile_compression=tile_compression,
            min_zoom=zmin if n_entries else 0, max_zoom=zmax if n_entries else 0,
        )
        with open(path, "wb") as f:
            f.write(hdr.pack())
            f.write(root)
            f.write(meta)
            for tmp in (tmp_leaf, tmp_data):
                with open(tmp, "rb") as src:
                    shutil.copyfileobj(src, f, length=1 << 22)  # 4 MiB chunks
    finally:  # a failed write (duplicate ids, a Spark job error) leaves no temp file
        shutil.rmtree(parts, ignore_errors=True)
        for tmp in (tmp_data, tmp_leaf):
            if os.path.exists(tmp):
                os.remove(tmp)
    return {"tiles": n_addressed, "entries": n_entries,
            "unique_blobs": n_contents, "leaves": len(root_entries),
            "peak_buffered_entries": peak_buffered,
            "bytes": leaf_offset + leaf_len + data_len}


def _fetch_rows(f, data_off: int, entries, tids: list, blobs: list) -> None:
    """Append (tile_id, blob) rows for directory entries (run-aware)."""
    for tid, off, ln, run in entries:
        f.seek(data_off + int(off))
        blob = f.read(int(ln))
        for kk in range(int(run)):
            tids.append(int(tid) + kk)
            blobs.append(blob)


def read_pmtiles(spark, path: str):
    """PMTiles archive -> tiles DataFrame (z, x, y, tile_id, data) — the S1+S2
    scan: only the ROOT directory parses driver-side. Root-only archives
    distribute their entries directly; leaf archives distribute LEAF
    POINTERS, and each executor range-reads + decodes its own leaf
    directories before fetching blobs, so the full entry list never
    materializes on the driver (a planet archive's root is ~1/leaf_size of
    its entries). Executors range-read the shared file — local FS in this
    sandbox, network/object storage on a cluster, same seam. Run-length
    entries expand to one row per tile; z/x/y derive from the inverse
    Hilbert walk."""
    import numpy as np
    import pandas as pd

    rd = PMTilesReader(path)
    hdr = rd.header
    data_off, leaf_off = hdr.data_offset, hdr.leaf_offset
    gz_internal = hdr.internal_compression == COMPRESSION_GZIP
    n = spark.sparkContext.defaultParallelism
    out_schema = "z int, x bigint, y bigint, tile_id bigint, data binary"

    def _frame(tids, blobs):
        from ..functions.tiling import tile_id_to_zxy

        z, x, y = tile_id_to_zxy(np.array(tids, dtype=np.int64))
        return pd.DataFrame({
            "z": z.astype("int32"), "x": x, "y": y,
            "tile_id": np.array(tids, dtype=np.int64), "data": blobs,
        })

    def _fetch(pdfs):
        with open(path, "rb") as f:
            for pdf in pdfs:
                tids, blobs = [], []
                _fetch_rows(f, data_off, pdf.itertuples(index=False), tids, blobs)
                yield _frame(tids, blobs)

    def _direct_df(entries):
        edf = spark.createDataFrame(
            entries, "tile_id bigint, off bigint, len bigint, run bigint")
        return edf.repartition(n).mapInPandas(_fetch, out_schema)

    if rd.leafed:
        # the v3 spec permits a MIXED root: direct tile entries (run >= 1)
        # alongside leaf-directory pointers (run == 0); only the latter are
        # gzip-decompressed as directories — direct entries go through the
        # same blob-fetch path as a root-only archive
        leaf_ptrs = [(off, ln) for _, off, ln, rl in rd.root if rl == 0]
        direct = [e for e in rd.root if e[3] >= 1]
        ldf = spark.createDataFrame(leaf_ptrs, "loff bigint, llen bigint")

        def _fetch_leaves(pdfs):
            with open(path, "rb") as f:
                for pdf in pdfs:
                    for loff, llen in pdf.itertuples(index=False):
                        f.seek(leaf_off + int(loff))
                        raw = f.read(int(llen))
                        if gz_internal:
                            raw = gzip.decompress(raw)
                        tids: list[int] = []
                        blobs: list[bytes] = []
                        _fetch_rows(f, data_off, decode_directory(raw), tids, blobs)
                        yield _frame(tids, blobs)

        out = ldf.repartition(n).mapInPandas(_fetch_leaves, out_schema)
        if direct:
            out = out.unionByName(_direct_df(direct))
        return out

    return _direct_df(rd.root)


class PMTilesReader:
    """Random-access reader (S2 analog: fetch one tile's blob by id).

    Leaf-directory aware: the root parses eagerly; leaves resolve lazily and
    cache per leaf, so get_tile touches exactly one leaf (two range reads —
    the spec's access pattern for planet archives)."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self.header = Header.unpack(f.read(HEADER_LEN))
            f.seek(self.header.root_offset)
            root = f.read(self.header.root_len)
        if self.header.internal_compression == COMPRESSION_GZIP:
            root = gzip.decompress(root)
        self.root = decode_directory(root)
        # run_length == 0 marks a leaf-directory pointer (v3 spec)
        self.leafed = any(rl == 0 for _, _, _, rl in self.root)
        self._leaf_cache: dict[int, list[tuple[int, int, int, int]]] = {}

    def _leaf(self, off: int, ln: int) -> list[tuple[int, int, int, int]]:
        if off not in self._leaf_cache:
            with open(self.path, "rb") as f:
                f.seek(self.header.leaf_offset + off)
                raw = f.read(ln)
            if self.header.internal_compression == COMPRESSION_GZIP:
                raw = gzip.decompress(raw)
            self._leaf_cache[off] = decode_directory(raw)
        return self._leaf_cache[off]

    @property
    def entries(self) -> list[tuple[int, int, int, int]]:
        """Fully-resolved entry list (loads every leaf — test/tooling helper;
        the distributed scan and get_tile never need it)."""
        if not self.leafed:
            return self.root
        out: list[tuple[int, int, int, int]] = []
        for ent in self.root:
            if ent[3] == 0:  # leaf pointer; mixed roots are spec-valid
                out.extend(self._leaf(ent[1], ent[2]))
            else:
                out.append(ent)
        out.sort(key=lambda e: e[0])
        return out

    def metadata(self) -> dict:
        with open(self.path, "rb") as f:
            f.seek(self.header.meta_offset)
            raw = f.read(self.header.meta_len)
        if self.header.internal_compression == COMPRESSION_GZIP:
            raw = gzip.decompress(raw)
        return json.loads(raw)

    @staticmethod
    def _search(entries: list[tuple[int, int, int, int]], tile_id: int):
        """Rightmost entry with tid <= tile_id, or None."""
        lo, hi, best = 0, len(entries) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            if entries[mid][0] <= tile_id:
                best = entries[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        return best

    def get_tile(self, tile_id: int) -> bytes | None:
        """Two-level binary search (root -> leaf), run-length aware."""
        e = self._search(self.root, tile_id)
        if e is None:
            return None
        tid, off, ln, rl = e
        if rl == 0:  # leaf pointer: descend
            e = self._search(self._leaf(off, ln), tile_id)
            if e is None:
                return None
            tid, off, ln, rl = e
        if not tid <= tile_id < tid + rl:
            return None
        with open(self.path, "rb") as f:
            f.seek(self.header.data_offset + off)
            return f.read(ln)

    def tile_ids(self) -> list[int]:
        return [tid + k for tid, _, _, rl in self.entries for k in range(rl)]
