"""Cell-id helpers the cell tests check the encoders with: lat/lng entry
points to the xyz kernels, S2 parent and level from the sentinel lsb, and
the H3-style id unpacking."""

from __future__ import annotations

import numpy as np

from mvt_wrangler_spark.functions.cells import (
    _MAX_LEVEL,
    _face_uv_from_xyz,
    _xyz,
    h3_cell_from_xyz_np,
    s2_cell_from_xyz_np,
)


def s2_face_uv(lat_deg: np.ndarray, lng_deg: np.ndarray):
    """Cube face (0..5) and valid (u,v) per the s2 face projection."""
    x, y, z = _xyz(np.asarray(lat_deg, np.float64), np.asarray(lng_deg, np.float64))
    return _face_uv_from_xyz(x, y, z)


def s2_cell_id(lat_deg, lng_deg, level: int = 12) -> np.ndarray:
    """Vectorized S2 cell id at `level` (int64 array)."""
    x, y, z = _xyz(np.asarray(lat_deg, np.float64), np.asarray(lng_deg, np.float64))
    return s2_cell_from_xyz_np(x, y, z, level)


def h3_cell(lat_deg, lng_deg, res: int = 7) -> np.ndarray:
    """Vectorized H3-style cell id (int64) at resolution `res` (0..13)."""
    x, y, z = _xyz(np.asarray(lat_deg, np.float64), np.asarray(lng_deg, np.float64))
    return h3_cell_from_xyz_np(x, y, z, res)


def s2_parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Parent at `level` via lsb arithmetic: (id & -lsb) | lsb."""
    c = np.asarray(cell).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    neg = (~lsb + np.uint64(1))  # two's complement -lsb
    return ((c & neg) | lsb).astype(np.int64)


def s2_level(cell: int) -> int:
    """Level from the sentinel lsb."""
    c = int(cell) & ((1 << 64) - 1)
    lsb = c & (-c) & ((1 << 64) - 1)
    return _MAX_LEVEL - (lsb.bit_length() - 1) // 2


def h3_unpack(cell) -> tuple[int, int, int, int]:
    c = int(cell)
    face = c >> 49
    res = (c >> 45) & 0xF
    q = ((c >> 20) & ((1 << 20) - 1)) - (1 << 19)
    r = (c & ((1 << 20) - 1)) - (1 << 19)
    return face, res, q, r
