"""The batch point-tile encoder against scalar MVT framing.

`encode_tiles` encodes point tiles with one numpy pass per Arrow batch
(`_encode_point_table`). Every blob must equal the one framed feature by
feature with `functions/mvt.py` and gzip'd with mtime=0: on curate-shaped
input through Spark (with Arrow batches small enough to split tiles), and
on generated cases that hit the encoder's edges directly."""

from __future__ import annotations

import gzip
import random

import numpy as np
import pyarrow as pa
import pytest

from mvt_wrangler_spark.functions import mvt
from mvt_wrangler_spark.operators import tile_encode as TE


def _fid(image_id):
    """The MVT id of a feature, or None: decimal ids in [0, 2^35)."""
    try:
        v = int(image_id)
    except (TypeError, ValueError):
        return None
    return v if 0 <= v < 1 << 35 else None


def scalar_blob(rows: list[dict], compression: str = "gzip") -> bytes:
    """One tile's blob framed feature by feature with functions/mvt.py.
    `rows` are the tile's rows; features go in image_id order (nulls
    last), layers and dictionaries in first-seen order, tag keys sorted, and
    a layer carries ids only if every one of its features has one."""
    rows = sorted(rows, key=lambda r: (r["image_id"] is None, r["image_id"] or ""))
    layers: dict[str, list] = {}
    for r in rows:
        if r["layer"] is not None:
            layers.setdefault(r["layer"], []).append(r)
    out = []
    for name, feats in layers.items():
        keys: dict = {}
        values: dict = {}
        with_ids = all(_fid(r["image_id"]) is not None for r in feats)
        encoded = []
        for r in feats:
            tags = []
            for k in sorted(r["tags"] or {}):
                v = r["tags"][k]
                tags += [keys.setdefault(k, len(keys)),
                         values.setdefault((type(v), v), len(values))]
            geom = mvt.point_geometry(int(np.rint(r["px"])), int(np.rint(r["py"])))
            encoded.append(mvt.encode_feature(
                _fid(r["image_id"]) if with_ids else None, tags, geom, 1))
        out.append(mvt.encode_layer(name, list(keys), [v for _, v in values],
                                    encoded))
    raw = mvt.encode_tile(out)
    return raw if compression == "none" else gzip.compress(raw, 6, mtime=0)


def _by_tile(rows: list[dict]) -> dict[int, list[dict]]:
    tiles: dict[int, list[dict]] = {}
    for r in rows:
        tiles.setdefault(r["tile_id"], []).append(r)
    return tiles


def _schema(value_type: pa.DataType) -> pa.Schema:
    return pa.schema([("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
                      ("tile_id", pa.int64()), ("image_id", pa.string()),
                      ("layer", pa.string()),
                      ("tags", pa.map_(pa.string(), value_type)),
                      ("px", pa.float64()), ("py", pa.float64())])


def _batch_encode(rows: list[dict], value_type: pa.DataType, batch_rows: int,
                  compression: str = "gzip") -> dict[int, tuple[int, bytes]]:
    """rows -> Arrow batches of `batch_rows`, sorted as encode_tiles sorts
    them (tile_id, then image_id with nulls first) -> the batch encoder."""
    rows = sorted(rows, key=lambda r: (r["tile_id"], r["image_id"] is not None,
                                       r["image_id"] or ""))
    schema = _schema(value_type)
    cols = {f.name: [r[f.name] if f.name != "tags" or r["tags"] is None
                     else list(r["tags"].items()) for r in rows]
            for f in schema}
    table = pa.Table.from_pydict(cols, schema=schema)
    out = {}
    for tb in TE._split_tiles(table.to_batches(max_chunksize=batch_rows)):
        rb = TE._encode_point_table(tb, compression, 6)
        assert rb.schema == TE._TILE_ARROW
        for tid, n, data in zip(*(rb.column(c).to_pylist()
                                  for c in ("tile_id", "n_features", "data"))):
            assert tid not in out, "a tile was split across outputs"
            out[tid] = (n, data)
    return out


def _gen_rows(rng: random.Random, value_type: str) -> list[dict]:
    """Tiles with several layers, empty and missing tag maps, ids that do
    not parse or are >= 2^35, one-feature tiles and null layers."""
    def value():
        if value_type == "string":
            return rng.choice(["", "park", "x", "1", "名前", "true"])
        if value_type == "int":
            return rng.choice([0, 1, -1, 7, 1 << 40, -(1 << 62)])
        if value_type == "float":
            return rng.choice([0.0, 1.5, -2.25, 1e300, 3.0])
        return rng.choice([True, False])

    def image_id(i):
        r = rng.random()
        if r < 0.05:
            return None
        if r < 0.1:
            return f"img-{i}"
        if r < 0.15:
            return str((1 << 35) + i)
        if r < 0.18:
            return str(-i - 1)
        return str(i)

    rows = []
    for t in range(rng.randint(1, 12)):
        tid = 1000 + 7 * t
        for _ in range(rng.choice([1, 1, 2, 5, 17])):
            r = rng.random()
            tags = (None if r < 0.1 else {} if r < 0.2 else
                    {k: value() for k in rng.sample(
                        ["kind", "name", "name:ja", "a", "b"], rng.randint(1, 5))})
            rows.append({
                "z": 12, "x": tid % 64, "y": tid // 64, "tile_id": tid,
                "image_id": image_id(len(rows)),
                "layer": rng.choice(["pois", "roads", "buildings", "pois", None]
                                    if rng.random() < 0.1 else ["pois", "roads", "pois"]),
                "tags": tags,
                "px": rng.uniform(-50, 4150), "py": rng.uniform(-50, 4150),
            })
    return rows


VALUE_TYPES = {"string": pa.string(), "int": pa.int64(), "float": pa.float64(),
               "bool": pa.bool_()}


@pytest.mark.parametrize("value_type", list(VALUE_TYPES))
def test_batch_encoder_matches_scalar_framing(value_type):
    rng = random.Random(17)
    for case in range(40):
        rows = _gen_rows(rng, value_type)
        want = {tid: (len(rs), scalar_blob(rs))
                for tid, rs in _by_tile(rows).items()}
        for batch_rows in (1, 3, 1000):
            got = _batch_encode(rows, VALUE_TYPES[value_type], batch_rows)
            assert got == want, (value_type, case, batch_rows)


def test_batch_encoder_raw_and_fallback_values():
    """compression='none' stores raw protobuf; values the fast path does not
    dedup like pandas (NaN, -0.0, null) go through the per-tile encoder,
    which stores -0.0 under 0.0's slot and rejects NaN and null values."""
    rows = _gen_rows(random.Random(5), "string")
    want = {tid: (len(rs), scalar_blob(rs, "none"))
            for tid, rs in _by_tile(rows).items()}
    assert _batch_encode(rows, pa.string(), 4, "none") == want

    zeros = [{"z": 1, "x": 0, "y": 0, "tile_id": 1, "image_id": str(i),
              "layer": "l", "tags": {"v": v}, "px": 1.0, "py": 2.0}
             for i, v in enumerate([0.0, -0.0, 1.0])]
    got = _batch_encode(zeros, pa.float64(), 10)
    layer = TE.decode_tile_blob(got[1][1])["layers"][0]
    assert layer["values"] == [0.0, 1.0]
    assert [f["tags"] for f in layer["features"]] == [[0, 0], [0, 0], [0, 1]]
    for bad in (float("nan"), None):
        rows = [dict(zeros[0], tags={"v": bad})]
        with pytest.raises(ValueError):
            _batch_encode(rows, pa.float64(), 10)


@pytest.mark.spark
def test_encode_tiles_matches_scalar_framing_on_curate_input(spark):
    """Curate-shaped keepers (synthetic images at z10, hot metros, string
    tags) through encode_tiles with 5-row Arrow batches, so tiles span
    batches: every blob equals scalar framing."""
    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.sources.images import synthetic_images

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    assigned = tiling.assign_tiles(
        synthetic_images(spark, 600, seed=11, with_pixels=False, partitions=3), z=10)
    cols = ["z", "x", "y", "tile_id", "image_id", "layer", "tags", "px", "py"]
    rows = [r.asDict() for r in assigned.select(*cols).collect()]
    spark.conf.set(key, "5")
    try:
        got = {r.tile_id: (r.n_features, bytes(r.data))
               for r in TE.encode_tiles(assigned).collect()}
    finally:
        spark.conf.set(key, prev)
    want = {tid: (len(rs), scalar_blob(rs)) for tid, rs in _by_tile(rows).items()}
    assert max(n for n, _ in want.values()) > 5
    assert got == want
