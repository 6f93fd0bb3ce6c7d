"""Raster tile overzoom: serve zoom z+1 tiles from zoom z imagery when no
deeper tiles exist, the tile-server fallback for zooms past a source's
native resolution. Pixels travel as the opaque payloads of
`sources/images.py`."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


OVERZOOM_SCHEMA = ("image_id string, child int, cbytes binary, cw int, "
                   "ch int, cfmt string")


def overzoom(images_df: DataFrame, out_fmt: str = "rawz") -> DataFrame:
    """Tile overzoom: serve z+1 children from z imagery — each parent tile
    image yields 4 children (child = qy*2 + qx), the quadrant crop
    upsampled 2x nearest-neighbor back to the parent's pixel size.

    Nearest-neighbor is the overzoom convention (no resampling invention:
    child pixel (y, x) = parent pixel (qy*h/2 + y//2, qx*w/2 + x//2)) and
    is exact integer work, so the whole chain decode -> crop -> upsample ->
    re-encode is SQL-restatable for the contract oracle (q_overzoom). One
    mapInPandas, per-image body pure numpy. Odd dimensions crop to the
    even grid first.
    """
    from ..sources import images as I

    def _oz(pdfs):
        for pdf in pdfs:
            out = {k: [] for k in
                   ("image_id", "child", "cbytes", "cw", "ch", "cfmt")}
            for row in pdf.itertuples(index=False):
                if row.bytes is None:
                    continue
                px = I.decode(bytes(row.bytes), row.fmt, row.w, row.h)
                h2, w2 = row.h // 2, row.w // 2
                if h2 == 0 or w2 == 0:
                    continue
                for qy in (0, 1):
                    for qx in (0, 1):
                        quad = px[qy * h2:(qy + 1) * h2,
                                  qx * w2:(qx + 1) * w2, :]
                        up = quad.repeat(2, axis=0).repeat(2, axis=1)
                        out["image_id"].append(row.image_id)
                        out["child"].append(qy * 2 + qx)
                        out["cbytes"].append(I.encode(up, out_fmt))
                        out["cw"].append(2 * w2)
                        out["ch"].append(2 * h2)
                        out["cfmt"].append(out_fmt)
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images_df.select(*cols).mapInPandas(_oz, OVERZOOM_SCHEMA)
