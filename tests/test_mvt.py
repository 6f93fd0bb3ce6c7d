"""MVT wire format: golden bytes, round-trips, value types, geometry streams."""

from __future__ import annotations

from mvt_wrangler_spark.functions import mvt
from mvt_wrangler_spark.functions.mvt import CMD_CLOSE, CMD_LINE, decode_geometry_rings


def ring_area2(ring: list[tuple[int, int]]) -> int:
    """Twice the signed surveyor's area of an unclosed ring. In MVT screen
    coords (y down) the spec's exterior rings are POSITIVE, holes NEGATIVE
    (spec 4.3.4.5) — use this to split a polygon ring list into parts."""
    n = len(ring)
    s = 0
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return -s  # y-down flips the sign convention


def decode_geometry(ints: list[int]) -> tuple[str, list[tuple[int, int]]]:
    """Command stream -> (type guess, flattened absolute points)."""
    saw_close = any((c & 7) == CMD_CLOSE for c in _command_headers(ints))
    saw_line = any((c & 7) == CMD_LINE for c in _command_headers(ints))
    rings = decode_geometry_rings(ints)
    pts = [pt for r in rings for pt in r]
    gtype = "Polygon" if saw_close else ("LineString" if saw_line else "Point")
    return gtype, pts


def _command_headers(ints: list[int]):
    pos = 0
    while pos < len(ints):
        h = ints[pos]
        yield h
        cmd, count = h & 7, h >> 3
        pos += 1 + (0 if cmd == CMD_CLOSE else 2 * count)


def test_varint_zigzag_roundtrip():
    for n in [0, 1, 127, 128, 300, 2 ** 32, 2 ** 63 - 1]:
        v, pos = mvt.read_uvarint(mvt.uvarint(n), 0)
        assert v == n and pos == len(mvt.uvarint(n))
    for n in [0, -1, 1, -64, 63, -(2 ** 31), 2 ** 31, -(2 ** 62)]:
        assert mvt.unzigzag(mvt.zigzag(n)) == n


def test_golden_bytes_single_point_layer():
    """Pin the exact wire bytes of a minimal one-feature tile (protobuf wire
    spec + vector-tile-spec v2.1 field numbers — any encoder change that
    breaks compatibility with real MVT readers fails here)."""
    feat = mvt.encode_feature(7, [0, 0], mvt.point_geometry(5, 9), 1)
    layer = mvt.encode_layer("pois", ["kind"], ["park"], [feat])
    tile = mvt.encode_tile([layer])
    want = (
        b"\x1a\x28" +                   # Tile.layers (field 3, LD), len 40
        b"\x78\x02" +                   # Layer.version (field 15) = 2
        b"\x0a\x04pois" +               # Layer.name
        b"\x12\x0d" +                   # Layer.features, len 13
        b"\x08\x07" +                   # Feature.id = 7
        b"\x12\x02\x00\x00" +           # Feature.tags packed [0, 0]
        b"\x18\x01" +                   # Feature.type = POINT
        b"\x22\x03\x09\x0a\x12" +       # geometry [MoveTo|1<<3=9, zz(5)=10, zz(9)=18]
        b"\x1a\x04kind" +               # Layer.keys
        b"\x22\x06\x0a\x04park" +       # Layer.values (Value{string_value:"park"})
        b"\x28\x80\x20"                 # Layer.extent = 4096
    )
    assert tile == want
    doc = mvt.decode_tile(tile)
    ly = doc["layers"][0]
    assert ly["name"] == "pois" and ly["extent"] == 4096
    assert ly["keys"] == ["kind"] and ly["values"] == ["park"]
    f = ly["features"][0]
    assert f["id"] == 7 and f["tags"] == [0, 0] and f["type"] == "Point"
    assert f["geom"] == [5, 9]


def test_value_type_roundtrip():
    for v in ["s", "", "日本語", True, False, 0, -5, 12345678901234, 2.5, -0.125]:
        got = mvt.decode_value(mvt.encode_value(v))
        assert got == v and type(got) is type(v)


def test_geometry_streams_roundtrip():
    t, pts = decode_geometry(mvt.point_geometry(-3, 4096))
    assert t == "Point" and pts == [(-3, 4096)]
    xs, ys = [0, 10, 10, 0], [0, 0, 12, 12]
    t, pts = decode_geometry(mvt.linestring_geometry(xs, ys))
    assert t == "LineString" and pts == list(zip(xs, ys))
    t, pts = decode_geometry(mvt.polygon_geometry(xs, ys))
    assert t == "Polygon" and pts == list(zip(xs, ys))


def test_multilayer_tile_roundtrip():
    f1 = mvt.encode_feature(None, [], mvt.point_geometry(1, 2), 1)
    f2 = mvt.encode_feature(9, [0, 1, 1, 0],
                            mvt.linestring_geometry([0, 5], [0, 5]), 2)
    l1 = mvt.encode_layer("a", [], [], [f1])
    l2 = mvt.encode_layer("b", ["k1", "k2"], [1, True], [f2], extent=512)
    doc = mvt.decode_tile(mvt.encode_tile([l1, l2]))
    assert [ly["name"] for ly in doc["layers"]] == ["a", "b"]
    assert doc["layers"][0]["features"][0]["id"] is None
    assert doc["layers"][1]["extent"] == 512
    assert doc["layers"][1]["values"] == [1, True]
    assert doc["layers"][1]["features"][0]["type"] == "LineString"


def test_vectorized_feature_stream_matches_scalar():
    """The numpy feature-stream assembler must be byte-identical to framing
    per-feature mvt.encode_feature outputs."""
    import numpy as np

    from mvt_wrangler_spark.operators.tile_encode import _encode_point_features

    rng = np.random.default_rng(3)
    n = 500
    ids = rng.integers(0, 1 << 34, n)
    xs = rng.integers(-100, 4200, n)
    ys = rng.integers(-100, 4200, n)
    ntags = rng.integers(0, 4, n)
    pair_counts = ntags * 2
    pairs = rng.integers(0, 300, int(pair_counts.sum()))

    got = _encode_point_features(ids, pairs, pair_counts, xs, ys)
    want = bytearray()
    off = 0
    for i in range(n):
        tc = pairs[off:off + pair_counts[i]].tolist()
        off += pair_counts[i]
        f = mvt.encode_feature(int(ids[i]), tc,
                               mvt.point_geometry(int(xs[i]), int(ys[i])), 1)
        want += mvt._ld(2, f)
    assert got == bytes(want)

    # no-ids variant
    got2 = _encode_point_features(None, pairs, pair_counts, xs, ys)
    want2 = bytearray()
    off = 0
    for i in range(n):
        tc = pairs[off:off + pair_counts[i]].tolist()
        off += pair_counts[i]
        f = mvt.encode_feature(None, tc,
                               mvt.point_geometry(int(xs[i]), int(ys[i])), 1)
        want2 += mvt._ld(2, f)
    assert got2 == bytes(want2)


def test_property_roundtrip_random_tiles():
    """Property: decode(encode(tile)) == tile for random layer/feature/tag/
    geometry combinations (hypothesis, bounded)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    values = st.one_of(
        st.text(max_size=12), st.booleans(),
        st.integers(min_value=-2**40, max_value=2**40),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )
    feature = st.fixed_dictionaries({
        "id": st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
        "ntags": st.integers(min_value=0, max_value=4),
        "gtype": st.sampled_from(["Point", "LineString", "Polygon"]),
        "pts": st.lists(st.tuples(st.integers(-8192, 8192), st.integers(-8192, 8192)),
                        min_size=3, max_size=6),
    })
    layer = st.fixed_dictionaries({
        "name": st.text(min_size=1, max_size=8),
        "keys": st.lists(st.text(min_size=1, max_size=8), min_size=4, max_size=4,
                         unique=True),
        "values": st.lists(values, min_size=4, max_size=4),
        "features": st.lists(feature, min_size=0, max_size=3),
    })

    @settings(max_examples=60, deadline=None)
    @given(st.lists(layer, min_size=0, max_size=3))
    def check(layers):
        blobs = []
        for ly in layers:
            feats = []
            for f in ly["features"]:
                xs = [p[0] for p in f["pts"]]
                ys = [p[1] for p in f["pts"]]
                if f["gtype"] == "Point":
                    geom = mvt.point_geometry(xs[0], ys[0])
                elif f["gtype"] == "LineString":
                    geom = mvt.linestring_geometry(xs, ys)
                else:
                    geom = mvt.polygon_geometry(xs, ys)
                tags = [v for i in range(f["ntags"]) for v in (i, i)]
                feats.append(mvt.encode_feature(f["id"], tags, geom,
                                                mvt.GEOM_TYPE[f["gtype"]]))
            blobs.append(mvt.encode_layer(ly["name"], ly["keys"], ly["values"], feats))
        doc = mvt.decode_tile(mvt.encode_tile(blobs))
        assert len(doc["layers"]) == len(layers)
        for got, want in zip(doc["layers"], layers):
            assert got["name"] == want["name"]
            assert got["keys"] == want["keys"]
            for gv, wv in zip(got["values"], want["values"]):
                assert gv == wv and type(gv) is type(wv)
            assert len(got["features"]) == len(want["features"])
            for gf, wf in zip(got["features"], want["features"]):
                assert gf["id"] == wf["id"]
                assert gf["type"] == wf["gtype"]
                assert gf["tags"] == [v for i in range(wf["ntags"]) for v in (i, i)]
                xs = [p[0] for p in wf["pts"]]
                ys = [p[1] for p in wf["pts"]]
                if wf["gtype"] == "Point":
                    assert gf["geom"] == [xs[0], ys[0]]
                else:
                    assert gf["geom"] == [c for p in zip(xs, ys) for c in p]

    check()


def test_float32_value_branch():
    """f32 float_value=2 encodes (wire type 5) and decodes to its exact
    f32-representable float."""
    for x in [1.5, -0.25, 1024.0, 0.0]:
        enc = mvt.encode_value(mvt.Float32(x))
        assert enc[0] == (2 << 3) | 5  # field 2, 32-bit wire type
        assert mvt.decode_value(enc) == x


def test_multi_geometry_families_roundtrip():
    """Holes + Multi* round-trip through the command stream (spec
    4.3.4.4/4.3.4.5), and winding classifies exterior vs hole."""
    # polygon with a hole: exterior CW-in-screen-coords, hole opposite
    ext = ([0, 100, 100, 0], [0, 0, 100, 100])
    hole = ([20, 20, 80, 80], [20, 80, 80, 20])  # reversed winding
    g = mvt.multi_geometry("Polygon", [ext[0], hole[0]], [ext[1], hole[1]])
    rings = mvt.decode_geometry_rings(g)
    assert [len(r) for r in rings] == [4, 4]
    assert rings[0] == list(zip(*ext))
    assert rings[1] == list(zip(*hole))
    a0, a1 = ring_area2(rings[0]), ring_area2(rings[1])
    assert a0 * a1 < 0, "exterior and hole must have opposite winding"

    # multipolygon: two separate exteriors, same winding
    g2 = mvt.multi_geometry("MultiPolygon",
                            [[0, 10, 10, 0], [50, 60, 60, 50]],
                            [[0, 0, 10, 10], [0, 0, 10, 10]])
    r2 = mvt.decode_geometry_rings(g2)
    assert len(r2) == 2
    assert ring_area2(r2[0]) * ring_area2(r2[1]) > 0

    # multilinestring and multipoint
    mls = mvt.multi_geometry("MultiLineString", [[0, 5], [9, 9, 12]],
                             [[0, 5], [1, 4, 4]])
    assert [len(r) for r in mvt.decode_geometry_rings(mls)] == [2, 3]
    mp = mvt.multi_geometry("MultiPoint", [[1, 2, 3]], [[4, 5, 6]])
    assert mvt.decode_geometry_rings(mp) == [[(1, 4)], [(2, 5)], [(3, 6)]]


def test_property_multiring_roundtrip_and_vectorized_parity():
    """Property: (a) multi-ring/multi-part geometry streams round-trip
    ring-exact; (b) the vectorized flattener produces the identical flat
    contract as the scalar one on the same random tiles."""
    import gzip

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mvt_wrangler_spark.functions import mvt_np

    ring = st.lists(st.tuples(st.integers(-8192, 8192), st.integers(-8192, 8192)),
                    min_size=3, max_size=5)
    feature = st.fixed_dictionaries({
        "id": st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
        "ntags": st.integers(min_value=0, max_value=3),
        "gtype": st.sampled_from(["Point", "MultiPoint", "LineString",
                                  "MultiLineString", "Polygon", "MultiPolygon"]),
        "rings": st.lists(ring, min_size=1, max_size=3),
    })
    layer = st.fixed_dictionaries({
        "name": st.text(min_size=1, max_size=6),
        "keys": st.lists(st.text(min_size=1, max_size=6), min_size=3, max_size=3,
                         unique=True),
        "values": st.lists(st.one_of(
            st.text(max_size=8), st.booleans(),
            st.integers(min_value=-2**40, max_value=2**40),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ), min_size=3, max_size=3),
        "features": st.lists(feature, min_size=0, max_size=3),
    })

    @settings(max_examples=50, deadline=None)
    @given(st.lists(layer, min_size=0, max_size=2))
    def check(layers):
        lbufs = []
        want_rings = []  # (gtype, rings) per feature in stream order
        for ly in layers:
            feats = []
            for f in ly["features"]:
                rxs = [[p[0] for p in r] for r in f["rings"]]
                rys = [[p[1] for p in r] for r in f["rings"]]
                if f["gtype"] == "Point":
                    rxs, rys = [rxs[0][:1]], [rys[0][:1]]
                geom = mvt.multi_geometry(f["gtype"], rxs, rys)
                tags = [v for i in range(f["ntags"]) for v in (i, i)]
                feats.append(mvt.encode_feature(f["id"], tags, geom,
                                                mvt.GEOM_TYPE[f["gtype"]]))
                if mvt.GEOM_TYPE[f["gtype"]] == 1:
                    pts = [(x, y) for xs, ys in zip(rxs, rys)
                           for x, y in zip(xs, ys)]
                    want_rings.append([[p] for p in pts])
                else:
                    want_rings.append([list(zip(xs, ys))
                                       for xs, ys in zip(rxs, rys)])
            lbufs.append(mvt.encode_layer(ly["name"], ly["keys"],
                                          ly["values"], feats))
        blob = gzip.compress(mvt.encode_tile(lbufs), 6, mtime=0)

        # (a) ring-exact round-trip through the scalar decoder
        doc = mvt.decode_tile(gzip.decompress(blob))
        got_feats = [f for ly in doc["layers"] for f in ly["features"]]
        assert len(got_feats) == len(want_rings)
        for gf, wr in zip(got_feats, want_rings):
            assert gf["ring_lens"] == [len(r) for r in wr]
            flat = [c for r in wr for pt in r for c in pt]
            assert gf["geom"] == flat

        # (b) vectorized == scalar flat contract
        a = mvt_np.flatten_np([blob])
        b = mvt_np.flatten_scalar([blob])
        for k in a:
            va, vb = a[k], b[k]
            if isinstance(va, np.ndarray):
                assert np.array_equal(va, vb), k
            else:
                assert list(va) == list(vb), k

    check()


def test_vectorized_fallback_on_64bit_ids():
    """Feature ids >= 2^63 (10-byte varints) are outside the vectorized
    parser's contract: flatten_np raises VarintFallback, the scalar twin
    handles them (two's-complement into the int64 column)."""
    import gzip

    from mvt_wrangler_spark.functions import mvt_np

    big = mvt.encode_feature((1 << 63) + 5, [], mvt.point_geometry(0, 0), 1)
    blob = gzip.compress(mvt.encode_tile([mvt.encode_layer("l", [], [], [big])]),
                         6, mtime=0)
    import pytest as _pytest

    with _pytest.raises(mvt_np.VarintFallback):
        mvt_np.flatten_np([blob])
    s = mvt_np.flatten_scalar([blob])
    assert s["fid"][0] == (1 << 63) + 5 - (1 << 64) and s["fid_has"][0]

    # empty batch / empty layer / bare feature parity
    assert len(mvt_np.flatten_np([])["feat_tile"]) == 0
    empty = gzip.compress(mvt.encode_tile([mvt.encode_layer("e", [], [], [])]),
                          6, mtime=0)
    bare = gzip.compress(mvt.encode_tile(
        [mvt.encode_layer("l", [], [], [mvt.encode_feature(None, [], mvt.point_geometry(0, 0), 1)])]),
        6, mtime=0)
    import numpy as np

    a = mvt_np.flatten_np([empty, bare])
    b = mvt_np.flatten_scalar([empty, bare])
    for k in a:
        va, vb = a[k], b[k]
        if isinstance(va, np.ndarray):
            assert np.array_equal(va, vb), k
        else:
            assert list(va) == list(vb), k


def test_split_packed_blocks_fall_back_and_concatenate():
    """Protobuf packed-repeated fields may legally arrive SPLIT across
    several length-delimited blocks, which concatenate. The vectorized
    parser holds one span per field, so it must defer such features
    (VarintFallback); the scalar twin concatenates both tags (field 2)
    and geometry (field 4) per spec."""
    import gzip

    import pytest as _pytest

    from mvt_wrangler_spark.functions import mvt_np

    geom = mvt.linestring_geometry([1, 5, 9], [2, 6, 10])
    half = 3  # split between the MoveTo run and the LineTo run
    body = (mvt._tag(3, 0) + mvt.uvarint(2)  # type = LINESTRING
            + mvt._ld(2, b"".join(mvt.uvarint(t) for t in (0, 0)))
            + mvt._ld(2, b"".join(mvt.uvarint(t) for t in (1, 1)))
            + mvt._ld(4, b"".join(mvt.uvarint(g) for g in geom[:half]))
            + mvt._ld(4, b"".join(mvt.uvarint(g) for g in geom[half:])))
    layer = mvt.encode_layer("l", ["a", "b"], ["x", "y"], [body])
    blob = gzip.compress(mvt.encode_tile([layer]), 6, mtime=0)

    with _pytest.raises(mvt_np.VarintFallback):
        mvt_np.flatten_np([blob])
    s = mvt_np.flatten_scalar([blob])
    # tags from BOTH blocks survive ([0,0] + [1,1] -> keys a and b)
    assert list(s["gk_idx"]) == [0, 1]
    assert list(s["gv_idx"]) == [0, 1]
    # geometry from both blocks concatenates into the full linestring
    assert list(s["ax"]) == [1.0, 5.0, 9.0]
    assert list(s["ay"]) == [2.0, 6.0, 10.0]
    assert s["gtype"][0] == "LineString"


def test_line_before_move_raises_diagnosable_error():
    """Corrupt command streams (LineTo with no open part) fail with an
    explicit ValueError, not AttributeError on None."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="LineTo before MoveTo"):
        mvt.decode_geometry_rings([mvt.CMD_LINE | (1 << 3), 2, 2])
    with _pytest.raises(ValueError, match="LineTo before MoveTo"):
        mvt.decode_geometry_rings(
            [mvt.CMD_MOVE | (1 << 3), 2, 2, mvt.CMD_CLOSE | (1 << 3),
             mvt.CMD_LINE | (1 << 3), 2, 2])
