"""mvt_wrangler_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine with the query/data-processing capabilities of
KotobaMedia/mvt-wrangler (reference at /root/reference, Rust), re-expressed
Spark-first: web-mercator z/x/y tiling, PMTiles Hilbert tile ids, H3/S2 cell
encoding, broadcast point-in-polygon joins, the Maplibre-style expression DSL
compiled to Catalyst Columns, per-tile feature/tag filtering, phash dedup,
tile-pyramid rollup, skew salting, checkpoint/resume — all as DataFrame ops
plus vectorized Arrow/pandas UDFs (no per-row Python).

See SURVEY.md for the full reference->Spark operator mapping.
"""

from . import _zipimport

__version__ = "0.1.0"

# Python workers import the package when they unpickle a library UDF, so this
# also runs in every worker that executes engine code (see _zipimport).
_zipimport.install()
