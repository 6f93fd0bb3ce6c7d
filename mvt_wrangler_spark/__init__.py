"""mvt_wrangler_spark — a PySpark-native spatial-join + tiling engine.

The query/data-processing path of KotobaMedia/mvt-wrangler (the Rust
reference), re-expressed Spark-first: scan image/feature rows ->
web-mercator z/x/y tiling with PMTiles Hilbert tile ids, plus H3/S2 cells ->
broadcast point-in-polygon / intersects joins against filter geometries ->
feature and tag filtering with the Maplibre-style expression
DSL compiled to Catalyst Columns -> phash dedup -> per-tile stats and the
tile-pyramid rollup -> ordered snapshot write, MVT re-encode and PMTiles
export. Alongside it: salted kNN, raster zonal stats, and the incremental
minhash near-dup ingest into snapshot tables. All DataFrame ops plus
vectorized Arrow/pandas UDFs (no per-row Python).

Layout: `functions/` (column kernels: tiling, cells, geometry, MVT codec),
`operators/` (the path's joins, filters, dedup, rollup, zonal and tile
encode),
`sources/` (catalog, PMTiles, synthetic inputs), `plans/` (the CLI pipeline
and the incremental ingest), `cli.py`, `session.py`.
"""

from . import _zipimport

__version__ = "0.1.0"

# Python workers import the package when they unpickle a library UDF, so this
# also runs in every worker that executes engine code (see _zipimport).
_zipimport.install()
