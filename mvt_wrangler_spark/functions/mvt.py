"""Hand-rolled Mapbox Vector Tile (MVT) protobuf wire format — encode + decode.

This is the real public wire format (Mapbox vector-tile-spec v2.1, protobuf
encoding per the protobuf wire spec) that the reference reads and writes via
its prost-generated Tile type (/root/reference/src/transform.rs:79-80 decode,
:204 encode). No protobuf library exists in this environment, so the varint /
tag packing is hand-rolled; decode(encode(x)) == x is pytest-pinned.

Message layout (vector_tile.proto, public):
  Tile:    layers = 3 (repeated message)
  Layer:   version = 15 (varint, =2), name = 1 (string), features = 2,
           keys = 3 (repeated string), values = 4 (repeated Value),
           extent = 5 (varint, default 4096)
  Feature: id = 1 (uint64), tags = 2 (packed uint32), type = 3 (enum:
           1=POINT 2=LINESTRING 3=POLYGON), geometry = 4 (packed uint32
           command stream: (id | count<<3), params zigzag-encoded)
  Value:   string_value=1, float_value=2 (f32), double_value=3 (f64),
           int_value=4 (int64 varint), uint_value=5, sint_value=6 (zigzag),
           bool_value=7
"""

from __future__ import annotations

import struct

GEOM_TYPE = {"Point": 1, "LineString": 2, "Polygon": 3,
             # MVT's enum has no Multi* distinction: multiplicity lives in
             # the command stream (spec 4.3.4.4/4.3.4.5)
             "MultiPoint": 1, "MultiLineString": 2, "MultiPolygon": 3}
GEOM_NAME = {1: "Point", 2: "LineString", 3: "Polygon"}
CMD_MOVE, CMD_LINE, CMD_CLOSE = 1, 2, 7


# -- protobuf primitives ------------------------------------------------------

def uvarint(n: int) -> bytes:
    """Unsigned LEB128 varint."""
    if n < 0:
        n &= (1 << 64) - 1  # int64 two's complement (10-byte varint)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wire: int) -> bytes:
    return uvarint(field << 3 | wire)


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field."""
    return _tag(field, 2) + uvarint(len(payload)) + payload


# -- Value messages -----------------------------------------------------------

class Float32:
    """Marker wrapper: encode this float as the f32 `float_value=2` branch
    of the Value oneof (decode_value already returns plain floats for it)."""

    __slots__ = ("v",)

    def __init__(self, v: float):
        self.v = float(v)

    def __eq__(self, other):
        return isinstance(other, Float32) and self.v == other.v

    def __hash__(self):
        return hash(("f32", self.v))

    def __repr__(self):
        return f"Float32({self.v!r})"


def encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _tag(7, 0) + uvarint(1 if v else 0)
    if isinstance(v, int):
        return _tag(4, 0) + uvarint(v)
    if isinstance(v, Float32):
        return _tag(2, 5) + struct.pack("<f", v.v)
    if isinstance(v, float):
        return _tag(3, 1) + struct.pack("<d", v)
    return _ld(1, str(v).encode("utf-8"))


def decode_value(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = read_uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if field == 1:
            ln, pos = read_uvarint(buf, pos)
            return buf[pos:pos + ln].decode("utf-8")
        if field == 2:
            return struct.unpack("<f", buf[pos:pos + 4])[0]
        if field == 3:
            return struct.unpack("<d", buf[pos:pos + 8])[0]
        if field in (4, 5):
            v, pos = read_uvarint(buf, pos)
            if field == 4 and v >= 1 << 63:
                v -= 1 << 64
            return v
        if field == 6:
            v, pos = read_uvarint(buf, pos)
            return unzigzag(v)
        if field == 7:
            v, pos = read_uvarint(buf, pos)
            return bool(v)
    return None


# -- geometry command streams -------------------------------------------------

def point_geometry(x: int, y: int) -> list[int]:
    return [CMD_MOVE | (1 << 3), zigzag(x), zigzag(y)]


def linestring_geometry(xs: list[int], ys: list[int]) -> list[int]:
    out = [CMD_MOVE | (1 << 3), zigzag(xs[0]), zigzag(ys[0]),
           CMD_LINE | ((len(xs) - 1) << 3)]
    px, py = xs[0], ys[0]
    for x, y in zip(xs[1:], ys[1:]):
        out += [zigzag(x - px), zigzag(y - py)]
        px, py = x, y
    return out


def polygon_geometry(xs: list[int], ys: list[int]) -> list[int]:
    """One exterior ring (unclosed input); emits MoveTo/LineTo/ClosePath.
    For holes / multi-part polygons use multi_geometry."""
    out = linestring_geometry(xs, ys)
    out.append(CMD_CLOSE | (1 << 3))
    return out


def multi_geometry(gtype: str, rings_x: list[list[int]],
                   rings_y: list[list[int]]) -> list[int]:
    """Full-generality command stream for any MVT geometry family
    (the reference round-trips these via geo_types, transform.rs:130-139):

      Point/MultiPoint        one MoveTo with count=n (cursor-relative deltas)
      (Multi)LineString       one MoveTo(1)+LineTo(n-1) run per part
      (Multi)Polygon + holes  one MoveTo(1)+LineTo(n-1)+ClosePath run per
                              RING (exterior rings and holes alike; readers
                              classify by winding, spec 4.3.4.5); ring input
                              is unclosed (last vertex != first)

    The cursor persists across parts/rings within the feature, per spec.
    """
    base = GEOM_TYPE[gtype]
    out: list[int] = []
    cx = cy = 0
    if base == 1:
        pts = [(x, y) for xs, ys in zip(rings_x, rings_y) for x, y in zip(xs, ys)]
        out.append(CMD_MOVE | (len(pts) << 3))
        for x, y in pts:
            out += [zigzag(x - cx), zigzag(y - cy)]
            cx, cy = x, y
        return out
    for xs, ys in zip(rings_x, rings_y):
        out += [CMD_MOVE | (1 << 3), zigzag(xs[0] - cx), zigzag(ys[0] - cy)]
        cx, cy = xs[0], ys[0]
        if len(xs) > 1:
            out.append(CMD_LINE | ((len(xs) - 1) << 3))
            for x, y in zip(xs[1:], ys[1:]):
                out += [zigzag(x - cx), zigzag(y - cy)]
                cx, cy = x, y
        if base == 3:
            out.append(CMD_CLOSE | (1 << 3))
    return out


def decode_geometry_rings(ints: list[int]) -> list[list[tuple[int, int]]]:
    """Command stream -> list of parts/rings of absolute points.

    MoveTo(count=n) in a point geometry yields n single-point parts;
    MoveTo(1)+LineTo runs yield one part per run; ClosePath ends a polygon
    ring WITHOUT repeating the first vertex (rings come back unclosed, the
    same convention the encoders take). Cursor is cumulative across parts.
    """
    rings: list[list[tuple[int, int]]] = []
    pos, x, y = 0, 0, 0
    cur: list[tuple[int, int]] | None = None
    while pos < len(ints):
        cmd, count = ints[pos] & 7, ints[pos] >> 3
        pos += 1
        if cmd == CMD_CLOSE:
            cur = None
            continue
        if cmd == CMD_MOVE:
            for _ in range(count):
                x += unzigzag(ints[pos])
                y += unzigzag(ints[pos + 1])
                pos += 2
                cur = [(x, y)]
                rings.append(cur)
        else:  # CMD_LINE
            if cur is None:
                # corrupt stream: spec 4.3.4 requires a MoveTo first (and a
                # fresh MoveTo after ClosePath); fail diagnosably instead of
                # AttributeError on None
                raise ValueError("LineTo before MoveTo in geometry stream")
            for _ in range(count):
                x += unzigzag(ints[pos])
                y += unzigzag(ints[pos + 1])
                pos += 2
                cur.append((x, y))
    return rings



# -- Feature / Layer / Tile ---------------------------------------------------

def encode_feature(fid: int | None, tags: list[int], geom: list[int],
                   gtype: int) -> bytes:
    out = bytearray()
    if fid is not None:
        out += _tag(1, 0) + uvarint(fid)
    if tags:
        payload = b"".join(uvarint(t) for t in tags)
        out += _ld(2, payload)
    out += _tag(3, 0) + uvarint(gtype)
    out += _ld(4, b"".join(uvarint(g) for g in geom))
    return bytes(out)


def encode_layer(name: str, keys: list[str], values: list, features: list[bytes],
                 extent: int = 4096, preframed: bytes = b"") -> bytes:
    """`features` are unframed Feature messages; `preframed` is an already
    length-delimited feature block (the vectorized numpy assembler emits
    frames inline — passing them through avoids a re-copy per feature)."""
    out = bytearray()
    out += _tag(15, 0) + uvarint(2)  # version
    out += _ld(1, name.encode("utf-8"))
    for f in features:
        out += _ld(2, f)
    out += preframed
    for k in keys:
        out += _ld(3, k.encode("utf-8"))
    for v in values:
        out += _ld(4, encode_value(v))
    out += _tag(5, 0) + uvarint(extent)
    return bytes(out)


def encode_tile(layers: list[bytes]) -> bytes:
    return b"".join(_ld(3, la) for la in layers)


def decode_tile(buf: bytes) -> dict:
    """Full parse -> {"layers": [{"name", "extent", "keys", "values",
    "features": [{"id", "tags", "geom", "type"}]}]}."""
    layers = []
    pos = 0
    while pos < len(buf):
        key, pos = read_uvarint(buf, pos)
        assert key >> 3 == 3 and key & 7 == 2, "expected Tile.layers"
        ln, pos = read_uvarint(buf, pos)
        layers.append(_decode_layer(buf[pos:pos + ln]))
        pos += ln
    return {"layers": layers}


def _decode_layer(buf: bytes) -> dict:
    out = {"name": None, "extent": 4096, "keys": [], "values": [], "features": []}
    pos = 0
    while pos < len(buf):
        key, pos = read_uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = read_uvarint(buf, pos)
            if field == 5:
                out["extent"] = v
            continue
        ln, pos = read_uvarint(buf, pos)
        body = buf[pos:pos + ln]
        pos += ln
        if field == 1:
            out["name"] = body.decode("utf-8")
        elif field == 2:
            out["features"].append(_decode_feature(body))
        elif field == 3:
            out["keys"].append(body.decode("utf-8"))
        elif field == 4:
            out["values"].append(decode_value(body))
    return out


def _decode_feature(buf: bytes) -> dict:
    out = {"id": None, "tags": [], "geom": [], "type": "Point", "ring_lens": []}
    # packed-repeated fields may legally arrive split across several
    # length-delimited blocks (protobuf wire spec); both tags (field 2) and
    # geometry (field 4) CONCATENATE across blocks, so geometry ints are
    # accumulated here and decoded once after the walk
    geom_ints: list[int] = []
    pos = 0
    while pos < len(buf):
        key, pos = read_uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = read_uvarint(buf, pos)
            if field == 1:
                out["id"] = v
            elif field == 3:
                out["type"] = GEOM_NAME.get(v, "Unknown")
            continue
        ln, pos = read_uvarint(buf, pos)
        body = buf[pos:pos + ln]
        end = pos + ln
        if field == 2:
            p = 0
            while p < len(body):
                v, p = read_uvarint(body, p)
                out["tags"].append(v)
        elif field == 4:
            p = 0
            while p < len(body):
                v, p = read_uvarint(body, p)
                geom_ints.append(v)
        pos = end
    if geom_ints:
        rings = decode_geometry_rings(geom_ints)
        out["ring_lens"] = [len(r) for r in rings]
        out["geom"] = [c for r in rings for pt in r for c in pt]
    return out
