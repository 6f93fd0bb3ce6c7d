"""Synthetic images table source + image codecs (pure numpy, no PIL).

The graft input (BASELINE.json input_hint) is an Iceberg-style table
  images(image_id string, bytes binary, w int, h int, fmt string,
         caption string, phash long, lon double, lat double, kind string,
         tags map<string,string>, layer string)
Schemas and generation rules follow /root/repo/FIXTURES.md: deterministic in
image_id (seed folded into a splitmix64 stream), hot-spot clustered lon/lat
for tile skew, every 17th row an exact pixel duplicate of its predecessor
(same phash, different image_id) to exercise dedup.

Codecs (all invertible in numpy — the environment has no image libraries, so
the formats are defined here; real JPEG/PNG decode would slot into the same
`decode_batch` seam as a pandas UDF):
  raw    — u8 RGB row-major, w*h*3 bytes (exact roundtrip)
  rawz   — zlib(raw) (exact roundtrip)
  qlossy — zlib of 4-step uniform quantization (lossy; PSNR ~47 dB vs
           original by construction, comfortably over the 40 dB gate)

Generation is distributed: mapInPandas over spark.range(N) — each row is
derivable from its index alone, so the table generates embarrassingly
parallel at any scale (the 10^12-row design point shards by range).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, lon double, lat double, kind string, tags map<string,string>, "
    "layer string"
)

W_CYCLE = [16, 32, 64]
H_CYCLE = [16, 24, 48]
FMT_CYCLE = ["raw", "rawz", "qlossy"]
KIND_CYCLE = ["park", "school", "building", "hospital", "shop", "road"]
KIND_LAYER = {
    "park": "pois", "school": "pois", "hospital": "pois", "shop": "pois",
    "building": "buildings", "road": "roads",
}
# hot metro centers (lon, lat) — Tokyo, NYC, Paris; 80% of rows cluster here
METROS = [(139.76, 35.68), (-74.0, 40.71), (2.35, 48.86)]
MERC_LAT_LIMIT = 85.05


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def _u01(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def lonlat_for(ids: np.ndarray, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic clustered coordinates (FIXTURES.md §1)."""
    ids = ids.astype(np.uint64)
    h1 = _splitmix64(ids * np.uint64(3) + np.uint64(seed))
    h2 = _splitmix64(ids * np.uint64(3) + np.uint64(seed + 1))
    h3 = _splitmix64(ids * np.uint64(3) + np.uint64(seed + 2))
    u_sel, u_a, u_b = _u01(h1), _u01(h2), _u01(h3)
    # Box-Muller for gaussian offsets around metros
    r = np.sqrt(-2.0 * np.log(np.clip(u_a, 1e-12, 1.0)))
    theta = 2.0 * np.pi * u_b
    gx, gy = r * np.cos(theta), r * np.sin(theta)
    metro_idx = (_splitmix64(ids + np.uint64(seed + 7)) % np.uint64(len(METROS))).astype(np.int64)
    mx = np.array([m[0] for m in METROS])[metro_idx]
    my = np.array([m[1] for m in METROS])[metro_idx]
    clustered = u_sel < 0.8
    lon = np.where(clustered, mx + 0.05 * gx, u_a * 360.0 - 180.0)
    lat = np.where(clustered, my + 0.05 * gy, u_b * 170.0 - 85.0)
    lon = np.mod(lon + 180.0, 360.0) - 180.0
    lat = np.clip(lat, -MERC_LAT_LIMIT, MERC_LAT_LIMIT)
    return lon, lat


def pixels_for(pixel_id: int, w: int, h: int, seed: int = 42) -> np.ndarray:
    """Smooth gradient + hash noise, u8 (h, w, 3); deterministic in pixel_id."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 255) // max(w - 1, 1) + (yy * 191) // max(h - 1, 1)) % 256
    idx = (np.arange(h * w * 3, dtype=np.uint64) + np.uint64(pixel_id) * np.uint64(1_000_003)
           + np.uint64(seed) * np.uint64(0xABCD))
    noise = (_splitmix64(idx) % np.uint64(32)).astype(np.int64).reshape(h, w, 3)
    px = (base[:, :, None].astype(np.int64) + noise) % 256
    return px.astype(np.uint8)


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    raw = pixels.astype(np.uint8).tobytes()
    if fmt == "raw":
        return raw
    if fmt == "rawz":
        return zlib.compress(raw, 6)
    if fmt == "qlossy":
        q = (pixels.astype(np.uint8) >> 2) << 2  # 4-step quantization
        q = q + 2  # mid-rise: bounded error in [-2, 1]
        return zlib.compress(q.astype(np.uint8).tobytes(), 6)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        buf = data
    elif fmt in ("rawz", "qlossy"):
        buf = zlib.decompress(data)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)


def phash_of(pixels: np.ndarray) -> int:
    """64-bit perceptual-ish hash: blake2b of the 4-step-quantized pixels.

    Exact duplicates (and qlossy round-trips of them) share a phash; the
    dedup operator groups on it per tile (north rule 'phash dedup').
    """
    import hashlib

    q = ((pixels.astype(np.uint8) >> 2) << 2).tobytes()
    d = hashlib.blake2b(q, digest_size=8).digest()
    return int.from_bytes(d, "big", signed=True)


def _gen_partition(pdfs, seed: int, with_pixels: bool):
    for pdf in pdfs:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        n = len(ids)
        lon, lat = lonlat_for(ids, seed)
        w = np.array(W_CYCLE)[ids % len(W_CYCLE)]
        h = np.array(H_CYCLE)[ids % len(H_CYCLE)]
        fmt = np.array(FMT_CYCLE)[ids % len(FMT_CYCLE)]
        kind = np.array(KIND_CYCLE)[ids % len(KIND_CYCLE)]
        # every 17th row duplicates the previous row's pixels (same phash)
        pixel_ids = np.where((ids % 17 == 0) & (ids > 0), ids - 1, ids)
        image_id = np.array([f"img{i:09d}" for i in ids])
        caption = np.array([
            f"caption of img{i:09d}: {k} near ({lo:.4f},{la:.4f})"
            for i, k, lo, la in zip(ids, kind, lon, lat)
        ])
        blobs, phashes = [], np.empty(n, dtype=np.int64)
        for j in range(n):
            # duplicate rows must hash the pixels of pixel_ids[j] at ITS dims
            pid = int(pixel_ids[j])
            pw, ph = W_CYCLE[pid % 3], H_CYCLE[pid % 3]
            px = pixels_for(pid, pw, ph, seed)
            phashes[j] = phash_of(px)
            if with_pixels:
                blobs.append(encode(px, str(fmt[j])))
            else:
                blobs.append(None)
        tags = [
            {
                "name": f"{k} {i}",
                "name:ja": f"{k}-ja-{i}",
                "name:en": f"{k}-en-{i}",
                "name:fr": f"{k}-fr-{i}",
                "pgf:name:ja": f"{k}-pgf-{i}",
                "kind": str(k),
            }
            for i, k in zip(ids, kind)
        ]
        # dims of the blob actually stored (duplicates carry donor dims)
        out_w = np.array(W_CYCLE)[pixel_ids % 3]
        out_h = np.array(H_CYCLE)[pixel_ids % 3]
        yield pd.DataFrame({
            "image_id": image_id, "bytes": blobs,
            "w": out_w.astype(np.int32), "h": out_h.astype(np.int32),
            "fmt": fmt, "caption": caption, "phash": phashes,
            "lon": lon, "lat": lat, "kind": kind, "tags": tags,
            "layer": np.array([KIND_LAYER[str(k)] for k in kind]),
        })


def synthetic_images(spark: SparkSession, n: int, seed: int = 42,
                     with_pixels: bool = True, partitions: int | None = None) -> DataFrame:
    """Deterministic images table of n rows, generated in parallel."""
    parts = partitions or max(8, n // 50_000)
    rng = spark.range(0, n, 1, parts)
    return rng.mapInPandas(
        lambda it: _gen_partition(it, seed, with_pixels), IMAGES_SCHEMA
    )
