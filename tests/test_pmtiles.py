"""PMTiles v3 archive: header golden fields, directory codec, end-to-end
write -> random-access read -> MVT decode round-trip."""

from __future__ import annotations

import gzip
import struct

import pytest

from mvt_wrangler_spark.sources import pmtiles as P


def test_directory_codec_roundtrip():
    entries = [(85, 0, 10, 1), (86, 10, 20, 3), (90, 10, 20, 1), (95, 30, 5, 1)]
    assert P.decode_directory(P.encode_directory(entries)) == entries


def test_header_pack_unpack_golden():
    h = P.Header(root_offset=127, root_len=42, meta_offset=169, meta_len=9,
                 leaf_offset=178, leaf_len=0, data_offset=178, data_len=1000,
                 addressed_tiles=7, tile_entries=5, tile_contents=4,
                 min_zoom=3, max_zoom=10)
    buf = h.pack()
    assert len(buf) == 127
    assert buf[:7] == b"PMTiles" and buf[7] == 3
    # spot-check a couple of fixed offsets from the public spec
    assert struct.unpack("<Q", buf[8:16])[0] == 127      # root dir offset
    assert struct.unpack("<Q", buf[56:64])[0] == 178     # tile data offset
    assert buf[96] == 1 and buf[97] == P.COMPRESSION_GZIP
    assert buf[99] == P.TILETYPE_MVT
    assert buf[100] == 3 and buf[101] == 10
    assert P.Header.unpack(buf) == h


@pytest.mark.spark
def test_pmtiles_write_read_roundtrip(spark, tmp_path):
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import tile_encode as TE
    from mvt_wrangler_spark.sources import images as I

    df = I.synthetic_images(spark, 500, with_pixels=False, partitions=3)
    assigned = tiling.assign_tiles(df, z=5)
    tiles = TE.encode_tiles(assigned)
    want = {r.tile_id: (bytes(r.data), r.n_features) for r in tiles.collect()}

    path = str(tmp_path / "out.pmtiles")
    stats = P.write_pmtiles(tiles, path, metadata={"name": "t", "n": 500})
    assert stats["tiles"] == len(want)

    rd = P.PMTilesReader(path)
    assert rd.metadata() == {"name": "t", "n": 500}
    assert rd.header.min_zoom == 5 and rd.header.max_zoom == 5
    assert sorted(rd.tile_ids()) == sorted(want)
    # every tile random-access reads back byte-identical and MVT-decodes
    for tid, (blob, nf) in want.items():
        got = rd.get_tile(tid)
        assert got == blob
        doc = TE.decode_tile_blob(got)
        assert sum(len(ly["features"]) for ly in doc["layers"]) == nf
    assert rd.get_tile(max(want) + 12345) is None


@pytest.mark.spark
def test_pmtiles_dedup_and_runs(spark, tmp_path):
    """Identical blobs share storage; contiguous identical ids run-length."""
    import pandas as pd
    from pyspark.sql import functions as F

    blob = gzip.compress(b"same", 6)
    rows = [(5, i, 0, 1000 + i, 1, bytearray(blob)) for i in range(8)]
    tiles = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, tile_id bigint, n_features bigint, data binary")
    path = str(tmp_path / "dedup.pmtiles")
    stats = P.write_pmtiles(tiles, path)
    assert stats["tiles"] == 8
    assert stats["unique_blobs"] == 1          # content stored once
    assert stats["entries"] == 1               # one run-length-8 entry
    rd = P.PMTilesReader(path)
    assert rd.entries[0][3] == 8
    for i in range(8):
        assert rd.get_tile(1000 + i) == blob


@pytest.mark.spark
def test_pmtiles_leaf_directories_roundtrip(spark, tmp_path):
    """Archives past the root-size threshold split into leaf directories
    (v3 spec: run_length=0 root entries point into the leaf section).
    Forces many leaves with a tiny leaf_size; asserts the driver-side
    buffer bound, random access through leaves, the lazy leaf cache, and
    the distributed leaf-pointer scan."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import tile_encode as TE
    from mvt_wrangler_spark.sources import images as I

    df = I.synthetic_images(spark, 2000, with_pixels=False, partitions=4)
    assigned = tiling.assign_tiles(df, z=7)
    tiles = TE.encode_tiles(assigned)
    want = {r.tile_id: bytes(r.data) for r in tiles.collect()}

    path = str(tmp_path / "leafed.pmtiles")
    leaf_size = 64
    stats = P.write_pmtiles(tiles, path, metadata={"name": "leafed"},
                            leaf_size=leaf_size)
    assert stats["tiles"] == len(want)
    assert stats["leaves"] >= 2, "test must exercise multiple leaves"
    # driver RSS bound: never more than one leaf of entries buffered, and
    # the data section was never held in memory (streams to the temp file)
    assert stats["peak_buffered_entries"] <= leaf_size + 1

    rd = P.PMTilesReader(path)
    assert rd.leafed
    assert rd.header.leaf_len > 0
    assert len(rd.root) == stats["leaves"]
    assert all(rl == 0 for _, _, _, rl in rd.root)
    assert rd.metadata() == {"name": "leafed"}

    # random access resolves exactly one leaf per tile (lazy cache)
    some = sorted(want)[: 2 * leaf_size + 3]
    for tid in some:
        assert rd.get_tile(tid) == want[tid]
    assert 1 <= len(rd._leaf_cache) <= stats["leaves"]
    assert rd.get_tile(max(want) + 99999) is None
    assert rd.get_tile(min(want) - 1 if min(want) > 0 else -1) is None

    # full resolution matches, strictly ascending across leaf boundaries
    ids = rd.tile_ids()
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert sorted(ids) == sorted(want)

    # distributed scan: executors decode their own leaves
    back = {r.tile_id: bytes(r.data) for r in P.read_pmtiles(spark, path).collect()}
    assert back == want


@pytest.mark.spark
def test_pmtiles_leaf_run_length_across_boundary(spark, tmp_path):
    """Run-length dedup still works in leaf mode; a run broken by a leaf
    flush re-opens as a fresh entry (correct, just less compact)."""
    import gzip as _gz

    blobs = [_gz.compress(b"same", 6), _gz.compress(b"other", 6)]
    # runs of 3 identical blobs, alternating content -> entries accumulate
    # (run extension can't absorb everything) and leaves flush mid-run
    rows = [(5, i % 32, i // 32, 5000 + i, 1, bytearray(blobs[(i // 3) % 2]))
            for i in range(40)]
    tiles = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, tile_id bigint, n_features bigint, data binary")
    path = str(tmp_path / "leafrun.pmtiles")
    stats = P.write_pmtiles(tiles, path, leaf_size=4)
    assert stats["unique_blobs"] == 2          # content dedup across runs
    assert stats["leaves"] >= 2
    rd = P.PMTilesReader(path)
    assert rd.leafed
    for i in range(40):
        assert rd.get_tile(5000 + i) == blobs[(i // 3) % 2]
    assert rd.get_tile(4999) is None
    got = {r.tile_id: bytes(r.data) for r in P.read_pmtiles(spark, path).collect()}
    assert got == {5000 + i: blobs[(i // 3) % 2] for i in range(40)}


def test_pmtiles_mixed_root(spark, tmp_path):
    """The v3 spec permits a MIXED root directory: direct tile entries
    (run_length >= 1) alongside leaf-directory pointers (run_length == 0).
    Hand-crafts such an archive; both the distributed scan and random
    access must serve the direct entry as a tile, not parse it as a leaf."""
    import gzip as _gz

    from mvt_wrangler_spark.sources import pmtiles as P

    blobs = {0: b"direct-zero", 1: b"one", 2: b"two", 3: b"three"}
    data = b""
    offs = {}
    for tid in sorted(blobs):
        offs[tid] = len(data)
        data += blobs[tid]
    leaf_entries = [(tid, offs[tid], len(blobs[tid]), 1) for tid in (1, 2, 3)]
    leaf_raw = _gz.compress(P.encode_directory(leaf_entries), 6, mtime=0)
    root_entries = [(0, offs[0], len(blobs[0]), 1),  # DIRECT tile entry
                    (1, 0, len(leaf_raw), 0)]        # leaf pointer
    root_raw = _gz.compress(P.encode_directory(root_entries), 6, mtime=0)
    meta_raw = _gz.compress(b"{}", 6, mtime=0)
    pos = P.HEADER_LEN
    root_off = pos
    pos += len(root_raw)
    meta_off = pos
    pos += len(meta_raw)
    leaf_off = pos
    pos += len(leaf_raw)
    data_off = pos
    hdr = P.Header(root_offset=root_off, root_len=len(root_raw),
                   meta_offset=meta_off, meta_len=len(meta_raw),
                   leaf_offset=leaf_off, leaf_len=len(leaf_raw),
                   data_offset=data_off, data_len=len(data),
                   addressed_tiles=4, tile_entries=4, tile_contents=4,
                   max_zoom=1)
    path = str(tmp_path / "mixed.pmtiles")
    with open(path, "wb") as f:
        f.write(hdr.pack())
        f.write(root_raw)
        f.write(meta_raw)
        f.write(leaf_raw)
        f.write(data)

    rd = P.PMTilesReader(path)
    assert rd.leafed
    assert sorted(e[0] for e in rd.entries) == [0, 1, 2, 3]
    assert rd.get_tile(0) == blobs[0] and rd.get_tile(3) == blobs[3]

    got = {r["tile_id"]: bytes(r["data"])
           for r in P.read_pmtiles(spark, path).collect()}
    assert got == blobs


@pytest.mark.spark
def test_pmtiles_failed_write_leaves_no_temp_files(spark, tmp_path):
    """Duplicate tile ids fail the write (within one sorted partition, and
    across partitions meeting in the driver's merge), and neither the temp
    files nor the part directory survive."""
    rows = [(5, i, 0, 1000 + min(i, 2), bytearray(b"t%d" % i)) for i in range(4)]
    for n_parts in (1, 4):
        tiles = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_parts),
            "z int, x bigint, y bigint, tile_id bigint, data binary")
        assert tiles.rdd.getNumPartitions() == n_parts
        path = str(tmp_path / "dup.pmtiles")
        with pytest.raises(ValueError, match="ascending/unique"):
            P.write_pmtiles(tiles, path)
        assert list(tmp_path.iterdir()) == [], n_parts


def _tile_rows():
    """(z, x, y, tile_id, data) rows with gaps in the ids, runs of identical
    consecutive blobs (some crossing a leaf_size=4 boundary) and blobs that
    repeat non-consecutively (stored once, shared by offset)."""
    blobs = [gzip.compress(b"blob-%d" % k * (k + 1), 6, mtime=0) for k in range(5)]
    ids = [7000 + i for i in range(9)] + [7020 + i for i in range(14)] + [7100, 7102]
    pattern = [0, 0, 0, 0, 0, 1, 2, 1, 3, 3, 3, 3, 3, 3, 4, 0, 2, 2, 1, 4, 4, 4, 0, 1, 1]
    return [(5, tid % 32, tid // 32, tid, bytearray(blobs[k]))
            for tid, k in zip(ids, pattern)]


@pytest.mark.spark
def test_pmtiles_archive_is_independent_of_partitioning(spark, tmp_path):
    """The same tiles in one partition and in 7 partitions of shuffled rows
    give byte-identical archives: the driver's k-way merge restores the one
    global tile order, and runs, dedup and leaves come out the same."""
    import random

    rows = _tile_rows()
    schema = "z int, x bigint, y bigint, tile_id bigint, data binary"
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    one = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    seven = spark.createDataFrame(spark.sparkContext.parallelize(shuffled, 7), schema)
    assert seven.rdd.getNumPartitions() == 7

    paths = [str(tmp_path / "one.pmtiles"), str(tmp_path / "seven.pmtiles")]
    stats = [P.write_pmtiles(df, p, metadata={"name": "parts"}, leaf_size=4)
             for df, p in zip((one, seven), paths)]
    archives = [open(p, "rb").read() for p in paths]
    assert archives[0] == archives[1]
    assert stats[0] == stats[1]
    assert stats[0]["leaves"] >= 2 and stats[0]["unique_blobs"] == 5
    assert stats[0]["entries"] < len(rows)        # the runs were folded
    assert sorted(p.name for p in tmp_path.iterdir()) == ["one.pmtiles", "seven.pmtiles"]

    rd = P.PMTilesReader(paths[1])
    assert rd.tile_ids() == [r[3] for r in rows]
    for r in rows:
        assert rd.get_tile(r[3]) == bytes(r[4])


@pytest.mark.spark
def test_pmtiles_runs_its_input_once(spark, tmp_path):
    """One Spark write: the input's Python function runs once per input
    partition (a range-sampled export runs it once more to sample)."""
    log = tmp_path / "calls.log"
    log.touch()

    def passthrough(pdfs):
        with open(log, "a") as f:
            f.write("call\n")
        yield from pdfs

    schema = "z int, x bigint, y bigint, tile_id bigint, data binary"
    tiles = (spark.createDataFrame(spark.sparkContext.parallelize(_tile_rows(), 3), schema)
             .mapInPandas(passthrough, schema))
    stats = P.write_pmtiles(tiles, str(tmp_path / "once.pmtiles"))
    assert stats["tiles"] == len(_tile_rows())
    assert log.read_text().count("call") == 3
