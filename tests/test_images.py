"""Images source: codec roundtrips, PSNR gate, phash duplicates, determinism."""

from __future__ import annotations

import numpy as np
import pytest

from mvt_wrangler_spark.sources import images as I


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


def test_codec_roundtrip_exact():
    px = I.pixels_for(123, 32, 24)
    assert px.shape == (24, 32, 3) and px.dtype == np.uint8
    for fmt in ("raw", "rawz"):
        dec = I.decode(I.encode(px, fmt), fmt, 32, 24)
        assert np.array_equal(dec, px)


def test_qlossy_psnr_gate():
    """BASELINE.json input_hint: decoded-pixel PSNR >= 40 dB for lossy fmt."""
    for pid in (0, 5, 99):
        px = I.pixels_for(pid, 64, 48)
        dec = I.decode(I.encode(px, "qlossy"), "qlossy", 64, 48)
        assert psnr(px, dec) >= 40.0
        # phash invariant: lossy roundtrip preserves the hash
        assert I.phash_of(dec) == I.phash_of(px)


def test_pixels_deterministic():
    a = I.pixels_for(7, 16, 16)
    b = I.pixels_for(7, 16, 16)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, I.pixels_for(8, 16, 16))


def test_lonlat_clustering():
    ids = np.arange(20000)
    lon, lat = I.lonlat_for(ids)
    assert lon.min() >= -180 and lon.max() <= 180
    assert abs(lat).max() <= I.MERC_LAT_LIMIT
    near = 0
    for mx, my in I.METROS:
        near += ((np.abs(lon - mx) < 0.5) & (np.abs(lat - my) < 0.5)).sum()
    assert near / len(ids) > 0.7  # hot-spot mixture (80% nominal)


@pytest.mark.spark
def test_synthetic_images_spark(spark):
    df = I.synthetic_images(spark, 600, with_pixels=True, partitions=4)
    rows = df.collect()
    assert len(rows) == 600
    by_id = {r.image_id: r for r in rows}
    # determinism across regeneration
    again = {r.image_id: r for r in I.synthetic_images(spark, 600, partitions=2).collect()}
    for k, r in by_id.items():
        assert again[k].phash == r.phash and again[k].caption == r.caption
        assert again[k].bytes == r.bytes
    # duplicate rule: every 17th row shares phash with predecessor
    for i in range(17, 600, 17):
        a, b = by_id[f"img{i:09d}"], by_id[f"img{i-1:09d}"]
        assert a.phash == b.phash
        assert I.decode(bytes(a.bytes), a.fmt, a.w, a.h).shape[:2] == (a.h, a.w)
    # per-row invariants (input_hint): decode matches regenerated pixels
    for i in (1, 2, 3, 34, 35):
        r = by_id[f"img{i:09d}"]
        pid = i - 1 if (i % 17 == 0 and i > 0) else i
        px = I.pixels_for(pid, r.w, r.h)
        dec = I.decode(bytes(r.bytes), r.fmt, r.w, r.h)
        if r.fmt == "qlossy":
            assert psnr(px, dec) >= 40.0
        else:
            assert np.array_equal(px, dec)
        assert r.caption.startswith(f"caption of img{i:09d}:")
