"""Per-tile blob encode: dictionary first-seen order, determinism, decode round-trip."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.functions import tiling
from mvt_wrangler_spark.operators import tile_encode as TE
from mvt_wrangler_spark.sources import images as I


def test_blob_dictionary_first_seen_order():
    pdf = pd.DataFrame({
        "image_id": ["a", "b", "c"],
        "layer": ["pois", "pois", "roads"],
        "tags": [{"kind": "park", "name": "x"}, {"kind": "park"}, {"kind": "road"}],
        "px": [1.0, 2.0, 3.0], "py": [4.0, 5.0, 6.0],
    })
    doc = TE.decode_tile_blob(TE._encode_tile_blob(pdf))
    assert [ly["name"] for ly in doc["layers"]] == ["pois", "roads"]
    pois = doc["layers"][0]
    # first-seen order: 'a' sorted-tag-keys = [kind, name] -> keys [kind, name]
    assert pois["keys"] == ["kind", "name"]
    assert pois["values"] == ["park", "x"]  # dedup: b reuses "park" (idx 0)
    assert pois["features"][1]["tags"] == [0, 0]
    assert pois["features"][0]["tags"] == [0, 0, 1, 1]
    # determinism
    assert TE._encode_tile_blob(pdf) == TE._encode_tile_blob(pdf)


@pytest.mark.spark
def test_encode_tiles_and_ordered_archive(spark):
    df = I.synthetic_images(spark, 400, with_pixels=False, partitions=3)
    assigned = tiling.assign_tiles(df, z=5)
    tiles = TE.encode_tiles(assigned)
    rows = tiles.collect()
    assert sum(r.n_features for r in rows) == 400
    # every blob decodes; feature count matches
    for r in rows[:20]:
        doc = TE.decode_tile_blob(r.data)
        assert sum(len(ly["features"]) for ly in doc["layers"]) == r.n_features


@pytest.mark.spark
def test_encode_tiles_general_geometries_and_raw_compression(spark):
    """LineString/Polygon features round-trip through the MVT blob; raw
    (uncompressed) storage decodes via magic sniffing."""
    rows = [
        ("a", "feats", {"kind": "road"}, "LineString", [0.0, 100.0, 200.0], [0.0, 50.0, 40.0]),
        ("b", "feats", {"kind": "park"}, "Polygon", [10.0, 110.0, 60.0], [10.0, 10.0, 90.0]),
        ("c", "feats", {"kind": "poi"}, "Point", [42.0], [24.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, layer string, tags map<string,string>, "
        "geom_type string, xs array<double>, ys array<double>",
    ).withColumn("lon", F.lit(0.5)).withColumn("lat", F.lit(0.5))
    assigned = tiling.assign_tiles(df, z=3, with_local=False)
    for comp in ("gzip", "none"):
        tiles = TE.encode_tiles(assigned, compression=comp).collect()
        assert len(tiles) == 1 and tiles[0].n_features == 3
        doc = TE.decode_tile_blob(tiles[0].data)
        feats = {None: []}
        ly = doc["layers"][0]
        by_type = {f["type"]: f for f in ly["features"]}
        assert set(by_type) == {"Point", "LineString", "Polygon"}
        assert by_type["LineString"]["geom"] == [0, 0, 100, 50, 200, 40]
        assert by_type["Polygon"]["geom"] == [10, 10, 110, 10, 60, 90]
        assert by_type["Point"]["geom"] == [42, 24]
        assert ly["keys"] == ["kind"]
        # raw blob must NOT be gzip; gzip blob must be
        is_gz = bytes(tiles[0].data)[:2] == b"\x1f\x8b"
        assert is_gz == (comp == "gzip")


def _mixed_archive_rows():
    """(z, x, y, tile_id, n_features, blob) tiles whose blobs carry typed
    values + multi-ring/Multi* geometries (built straight from the
    wire-format builders)."""
    import gzip as _gz

    from mvt_wrangler_spark.functions import mvt

    keys = ["rank", "name", "score", "flag"]
    vals = [5, "5", 2.5, True]
    f_pt = mvt.encode_feature(1, [0, 0, 1, 1], mvt.point_geometry(10, 20), 1)
    holed = mvt.multi_geometry(
        "Polygon", [[0, 100, 100, 0], [20, 20, 80, 80]],
        [[0, 0, 100, 100], [20, 80, 80, 20]])
    f_poly = mvt.encode_feature(2, [2, 2, 3, 3], holed, 3)
    mls = mvt.multi_geometry("MultiLineString", [[0, 9], [40, 50, 60]],
                             [[0, 9], [40, 50, 60]])
    f_mls = mvt.encode_feature(None, [0, 1], mls, 2)
    mp = mvt.multi_geometry("MultiPoint", [[7, 8]], [[9, 10]])
    f_mp = mvt.encode_feature(4, [], mp, 1)
    blob1 = _gz.compress(mvt.encode_tile(
        [mvt.encode_layer("mix", keys, vals, [f_pt, f_poly])]), 6, mtime=0)
    f_other = mvt.encode_feature(9, [0, 0], mvt.point_geometry(3, 4), 1)
    blob2 = _gz.compress(mvt.encode_tile(
        [mvt.encode_layer("mix", keys, vals, [f_mls, f_mp]),
         mvt.encode_layer("other", ["k"], [-7], [f_other])]), 6, mtime=0)
    return [(5, 1, 1, 100, 2, blob1), (5, 2, 2, 200, 2, blob2)]


def _mixed_archive_df(spark):
    """The _mixed_archive_rows tiles as a DataFrame."""
    return spark.createDataFrame(
        [r[:5] + (bytearray(r[5]),) for r in _mixed_archive_rows()],
        "z int, x bigint, y bigint, tile_id bigint, n_features bigint, data binary")


def test_decode_tiles_vectorized_matches_scalar():
    """decode_tiles' numpy flattener and the scalar flattener it falls back
    to must agree on mixed geometries and typed values: the same flat
    columns, and the same output batch under both schemas."""
    import numpy as np
    import pyarrow as pa

    from mvt_wrangler_spark.functions import mvt_np

    rows = _mixed_archive_rows()
    batch = pa.RecordBatch.from_pydict(
        {"z": pa.array([r[0] for r in rows], pa.int32()),
         "x": pa.array([r[1] for r in rows], pa.int64()),
         "y": pa.array([r[2] for r in rows], pa.int64()),
         "tile_id": pa.array([r[3] for r in rows], pa.int64()),
         "data": pa.array([r[5] for r in rows], pa.binary())})
    blobs = batch.column("data").to_pylist()
    fast, slow = mvt_np.flatten_np(blobs), mvt_np.flatten_scalar(blobs)
    assert fast.keys() == slow.keys()
    for k, va in fast.items():
        if isinstance(va, np.ndarray):
            assert np.array_equal(va, slow[k]), k
        else:
            assert list(va) == list(slow[k]), k
    for typed in (False, True):
        a = mvt_np.to_record_batch(fast, batch, typed)
        b = mvt_np.to_record_batch(slow, batch, typed)
        assert a.equals(b)
        assert a.num_rows == 5


@pytest.mark.spark
def test_decode_tiles_rings_and_multiparts(spark):
    rows = {r.feature_id: r for r in TE.decode_tiles(_mixed_archive_df(spark)).collect()}
    holed = rows[2]
    assert holed.geom_type == "Polygon"
    assert holed.ring_lens == [4, 4]
    assert holed.pxs[:4] == [0.0, 100.0, 100.0, 0.0]
    assert holed.pxs[4:] == [20.0, 20.0, 80.0, 80.0]
    mls = rows[None]
    assert mls.geom_type == "MultiLineString" and mls.ring_lens == [2, 3]
    mp = rows[4]
    assert mp.geom_type == "MultiPoint" and mp.ring_lens == [1, 1]
    assert rows[1].geom_type == "Point" and rows[1].ring_lens == [1]


@pytest.mark.spark
def test_typed_value_roundtrip_changes_filter_result(spark):
    """transform.rs:118-128 parity: the Value oneof survives the archive
    round-trip, so an int-vs-string comparison differs between the typed
    and stringified tag columns (executor.rs:200-235 coercion ladder:
    `in` with ["5"] matches STRING "5" but not NUMBER 5)."""
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.operators import expr as E

    tiles = _mixed_archive_df(spark)
    prog = ["in", ["tag", "rank"], ["literal", ["5"]]]

    typed = TE.decode_tiles(tiles, typed=True)
    ctx_t = E.ColumnContext(tags=F.col("tags"), typed=True)
    got_t = typed.filter(F.col("feature_id") == 1) \
        .select(E.compile_expr(prog, ctx_t).alias("m")).collect()
    assert got_t[0].m is False  # NUMBER 5 != STRING "5" under exact-typed `in`

    plain = TE.decode_tiles(tiles, typed=False)
    ctx_s = E.ColumnContext(tags=F.col("tags"))
    got_s = plain.filter(F.col("feature_id") == 1) \
        .select(E.compile_expr(prog, ctx_s).alias("m")).collect()
    assert got_s[0].m is True   # stringified path can no longer tell them apart

    # the typed struct kinds round-trip exactly
    t1 = {k: v for k, v in typed.filter(F.col("feature_id") == 1)
          .select("tags").collect()[0].tags.items()}
    assert t1["rank"].t == 2 and t1["rank"].i == 5       # NUMBER
    assert t1["name"].t == 1 and t1["name"].s == "5"     # STRING
    t2 = {k: v for k, v in typed.filter(F.col("feature_id") == 2)
          .select("tags").collect()[0].tags.items()}
    assert t2["score"].t == 3 and t2["score"].f == 2.5 and t2["score"].fs == "2.5"
    assert t2["flag"].t == 4 and t2["flag"].b is True


@pytest.mark.spark
def test_encode_rings_roundtrip(spark):
    """encode_tiles with ring-structured columns (xss/yss) -> decode returns
    the same rings (full Multi*/hole write path)."""
    rows = [
        (5, 1, 1, 100, "10", "shapes", {"kind": "building"}, "Polygon",
         [[0.0, 50.0, 50.0, 0.0], [10.0, 10.0, 40.0, 40.0]],
         [[0.0, 0.0, 50.0, 50.0], [10.0, 40.0, 40.0, 10.0]]),
        (5, 1, 1, 100, "11", "shapes", {"kind": "route"}, "MultiLineString",
         [[1.0, 2.0, 3.0], [7.0, 8.0]], [[1.0, 2.0, 3.0], [7.0, 8.0]]),
        (5, 2, 1, 101, "12", "shapes", {}, "MultiPoint",
         [[5.0], [6.0]], [[5.0], [6.0]]),
    ]
    df = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, tile_id bigint, image_id string, "
              "layer string, tags map<string,string>, geom_type string, "
              "xss array<array<double>>, yss array<array<double>>")
    tiles = TE.encode_tiles(df)
    back = {r.feature_id: r for r in TE.decode_tiles(tiles).collect()}
    assert back[10].geom_type == "Polygon" and back[10].ring_lens == [4, 4]
    assert back[10].pxs == [0.0, 50.0, 50.0, 0.0, 10.0, 10.0, 40.0, 40.0]
    assert back[11].geom_type == "MultiLineString" and back[11].ring_lens == [3, 2]
    assert back[12].geom_type == "MultiPoint" and back[12].ring_lens == [1, 1]
    assert back[12].pxs == [5.0, 6.0] and back[12].pys == [5.0, 6.0]
