"""Cell-id structure helpers the cell tests check the encoders with: S2
parent and level from the sentinel lsb, and the H3-style id unpacking."""

from __future__ import annotations

import numpy as np

from mvt_wrangler_spark.functions.cells import _MAX_LEVEL


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
