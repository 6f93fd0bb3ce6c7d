"""Filter program: GeoJSON FeatureCollection -> broadcast masks + Catalyst predicates.

Reference semantics:
  - program structure (features with geometry + properties.layers map of
    layer-name-or-"*" -> {feature?: Expr, tag?: Expr}):
        /root/reference/src/filtering/data.rs:13-43, FILTERING.md:7-17
  - rule dispatch (specific layer entry *with that expr kind* wins, else the
    "*" wildcard entry with that kind, else keep):
        data.rs:264-308
  - spatial scoping (a filter applies only where its geometry intersects):
        R-tree prefilter + exact intersects, data.rs:189-230,
        transform.rs:96-108,140-143
  - feature filter drops the row when ANY applicable filter's feature expr is
    truthy (transform.rs:148-157); tag filter drops individual map entries
    the same way (transform.rs:159-171).

Spark realization:
  - geometry side: a native Catalyst expression computes a BITMASK of
    intersecting filter features per point (even-odd PIP unrolled per
    polygon edge behind a bbox test) — the broadcast-STRtree join of the
    north rule, with no Arrow round trip; general (non-point) geometries
    take one Arrow-batched pandas UDF instead;
  - predicate side: per filter feature, a layer-name CASE cascade of compiled
    DSL Columns; overall removal = OR over (mask bit i AND rule_i). Pure
    Catalyst. Rules fold at compile time (operators/expr.py): a feature
    with no rule of a kind adds no term to that kind's predicate.
  - tag filter: F.map_filter higher-order function, with the compiled tag
    expr bound to the lambda key — no explode, no shuffle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import geometry as G
from . import expr as E


@dataclass
class FilterFeature:
    polygons: list[G.Polygon]           # parsed geometry (Multi flattened)
    layers: dict[str, dict[str, Any]]   # layer name (or "*") -> {feature?, tag?}
    id: str | None = None
    description: str | None = None


@dataclass
class FilterProgram:
    features: list[FilterFeature]

    @staticmethod
    def from_geojson(doc: dict | str) -> "FilterProgram":
        """Parse + validate (src/lib.rs:51-60 load path; serde structs data.rs:13-43)."""
        if isinstance(doc, str):
            doc = json.loads(doc)
        if doc.get("type") != "FeatureCollection":
            raise ValueError("filter program must be a GeoJSON FeatureCollection")
        feats = []
        for f in doc.get("features", []):
            if f.get("type") != "Feature":
                raise ValueError("filter entries must be GeoJSON Features")
            props = f.get("properties") or {}
            layers = props.get("layers")
            if not isinstance(layers, dict):
                raise ValueError("filter feature requires properties.layers")
            for name, lf in layers.items():
                for kind in ("feature", "tag"):
                    if lf.get(kind) is not None:
                        # compile-time validation (arity, regex, ops) —
                        # Column-free so programs load before the session
                        E.validate_expr(lf[kind])
            feats.append(FilterFeature(
                polygons=G.parse_geojson_geometry(f["geometry"]),
                layers=layers,
                id=props.get("id"),
                description=props.get("description"),
            ))
        return FilterProgram(feats)

    @staticmethod
    def load(path: str) -> "FilterProgram":
        with open(path) as fh:
            return FilterProgram.from_geojson(json.load(fh))


# ---------------------------------------------------------------------------
# Spatial mask: which filter features apply to each point row
# ---------------------------------------------------------------------------

def geom_filter_mask_column(spark: SparkSession, program: FilterProgram,
                            gtype: Column, xs: Column, ys: Column) -> Column:
    """Bitmask like filter_mask_native but for GENERAL geometries: bit i set
    iff the feature's geometry (Point/LineString/Polygon vertex arrays)
    exactly intersects filter feature i's mask (transform.rs:130-143) —
    makes ["type"] (P7) meaningful: non-point features flow through the
    same program dispatch as points."""
    n = len(program.features)
    if n == 0:
        return F.lit(0).cast("long")
    if n > 63:
        raise ValueError("filter programs with >63 features are not supported")
    payload = [(i, p.exterior, [h for h in p.holes])
               for i, feat in enumerate(program.features) for p in feat.polygons]
    bc = spark.sparkContext.broadcast(payload)

    @pandas_udf("long")
    def _mask(t: pd.Series, xs_s: pd.Series, ys_s: pd.Series) -> pd.Series:
        gtypes = t.to_numpy(dtype=object)
        xsl = xs_s.to_numpy(dtype=object)
        ysl = ys_s.to_numpy(dtype=object)
        out = np.zeros(len(gtypes), dtype=np.int64)
        for i, ext, holes in bc.value:
            hitv = G.geoms_intersect_polygon(gtypes, xsl, ysl, G.Polygon(ext, holes))
            out |= hitv.astype(np.int64) << i
        return pd.Series(out)

    return _mask(gtype, xs, ys)


def filter_mask_native(program: FilterProgram, lon: Column, lat: Column) -> Column:
    """Bitmask column: bit i set iff the row's point is inside feature i.

    Pure Catalyst column math: the polygons are compile-time constants, so
    the even-odd crossing test unrolls per edge into codegen'd arithmetic
    (one term per edge: ~5-10 edges per filter polygon). No Arrow round
    trip — a pandas UDF moves ~24 bytes/row across the JVM<->Python
    boundary, which saturates a node's memory bus before its cores.
    Supports up to 63 filter features (the reference's fixture has 3;
    programs are human-written queries).

    The mask ends in a nondeterministic no-op (`+ floor(rand*0)`), which
    stops Catalyst from SUBSTITUTING this large expression into every
    downstream reference — the feature filter references the mask once per
    filter feature and the tag filter once per map entry, so inlining
    multiplies the polygon math ~(features x map-entries) times (measured
    4x slowdown on the full pipeline). The no-op forces one evaluation per
    row while keeping the codegen speed of the native kernel.
    """
    if not program.features:
        return F.lit(0).cast("long")
    return _point_mask(program, lon, lat) + F.floor(F.rand(7) * 0).cast("long")


def _point_mask(program: FilterProgram, lon: Column, lat: Column) -> Column:
    """filter_mask_native's polygon math, without the inlining barrier."""
    if len(program.features) > 63:
        raise ValueError("filter programs with >63 features are not supported")
    mask = F.lit(0).cast("long")
    for i, feat in enumerate(program.features):
        inside_any = F.lit(False)
        for poly in feat.polygons:
            bbox_ok = (
                (lon >= float(poly.minx)) & (lon <= float(poly.maxx))
                & (lat >= float(poly.miny)) & (lat <= float(poly.maxy))
            )
            inside = _ring_crossings_odd(poly.exterior, lon, lat)
            for hole in poly.holes:
                inside = inside & ~_ring_crossings_odd(hole, lon, lat)
            inside_any = inside_any | (bbox_ok & inside)
        mask = mask.bitwiseOR(F.when(inside_any, F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return mask


def _ring_crossings_odd(ring, lon: Column, lat: Column) -> Column:
    """Even-odd rule for one closed ring, unrolled per edge (numpy twin:
    functions/geometry.py points_in_ring — same crossing condition)."""
    crossings = F.lit(0)
    for i in range(len(ring) - 1):
        x1, y1 = float(ring[i][0]), float(ring[i][1])
        x2, y2 = float(ring[i + 1][0]), float(ring[i + 1][1])
        if y1 == y2:
            continue  # horizontal edge: the (y1>py)!=(y2>py) gate is never true
        cond = (F.lit(y1) > lat) != (F.lit(y2) > lat)
        xint = x1 + (lat - y1) * ((x2 - x1) / (y2 - y1))
        crossings = crossings + F.when(cond & (lon < xint), 1).otherwise(0)
    return F.pmod(crossings, F.lit(2)) == 1


# ---------------------------------------------------------------------------
# Rule resolution: layer CASE cascade per filter feature
# ---------------------------------------------------------------------------

def _resolved_rule(feat: FilterFeature, kind: str, layer: Column,
                   ctx: E.ColumnContext):
    """data.rs:264-308: specific layer entry with this kind, else "*" with
    this kind, else false (keep). Folded at compile time: the layer tests
    are disjoint, so a layer whose rule is the fallback (no rule of this
    kind, or the same constant) adds no branch. Returns a Python bool when
    the rule folds to a constant, else a boolean Column."""
    wildcard = feat.layers.get("*", {}).get(kind)
    fallback = E.compile_bool(wildcard, ctx) if wildcard is not None else False
    branches = []
    for name, lf in feat.layers.items():
        if name == "*" or lf.get(kind) is None:
            continue
        rule = E.compile_bool(lf[kind], ctx)
        if not (isinstance(rule, bool) and rule is fallback):
            branches.append((layer == name, rule))
    return E.fold_case(branches, fallback)


def removal_predicate(program: FilterProgram, mask: Column, layer: Column,
                      ctx: E.ColumnContext, kind: str) -> Column:
    """True iff ANY spatially-applicable filter's resolved rule is truthy.
    A filter whose rule folds to false adds no term."""
    out = False
    for i, feat in enumerate(program.features):
        rule = _resolved_rule(feat, kind, layer, ctx)
        if rule is not False:
            applies = mask.bitwiseAND(F.lit(1 << i)) != 0
            out = E.fold_or(out, E.fold_and(applies, rule))
    return E.as_column(out)


def apply_feature_filter(df: DataFrame, program: FilterProgram, mask_col: str = "filter_mask",
                         layer_col: str = "layer", tags_col: str = "tags",
                         geom_type_col: str | None = None, typed: bool = False) -> DataFrame:
    """P4: drop rows where any applicable filter's feature expr is truthy.

    Checked against the feature's ORIGINAL full tag map (transform.rs:148-157
    runs before tag pruning) — callers must apply this before the tag filter.
    """
    ctx = E.ColumnContext(
        tags=F.col(tags_col),
        geom_type=F.col(geom_type_col) if geom_type_col else None,
        typed=typed,
    )
    remove = removal_predicate(program, F.col(mask_col), F.col(layer_col), ctx, "feature")
    return df.filter(~remove)


def apply_tag_filter(df: DataFrame, program: FilterProgram, mask_col: str = "filter_mask",
                     layer_col: str = "layer", tags_col: str = "tags",
                     geom_type_col: str | None = None, typed: bool = False) -> DataFrame:
    """P5: drop individual tag entries via map_filter (no explode/shuffle).

    The compiled tag expr binds ["key"] to the map_filter lambda key and
    ["tag", name] still reads the ORIGINAL map (transform.rs:159-171 keeps
    the full properties map in context while iterating entries).
    """

    def keep(k: Column, v: Column) -> Column:
        ctx = E.ColumnContext(
            tags=F.col(tags_col),
            key=k,
            geom_type=F.col(geom_type_col) if geom_type_col else None,
            typed=typed,
        )
        return ~removal_predicate(program, F.col(mask_col), F.col(layer_col), ctx, "tag")

    return df.withColumn(tags_col, F.map_filter(F.col(tags_col), keep))
