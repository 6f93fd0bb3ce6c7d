"""Golden E2E: full pipeline vs pure-numpy oracle (reference integration-test analog)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import joins as J
from mvt_wrangler_spark.operators.filters import FilterProgram
from mvt_wrangler_spark.functions import geometry as G
from mvt_wrangler_spark.plans import pipeline as P
from mvt_wrangler_spark.sources import images as I
from mvt_wrangler_spark.sources.fixtures import default_filter_geojson
from tests.oracle import pipeline_oracle as PO

N = 1500
Z = 10


@pytest.fixture(scope="module")
def images_rows(spark):
    df = I.synthetic_images(spark, N, with_pixels=False, partitions=4)
    rows = [r.asDict() for r in df.collect()]
    return df, rows


def test_filter_program_parses():
    prog = FilterProgram.from_geojson(default_filter_geojson())
    assert len(prog.features) == 3
    assert prog.features[0].layers["pois"]["feature"] == ["boolean", True]
    with pytest.raises(ValueError):
        FilterProgram.from_geojson({"type": "Nope"})


@pytest.mark.spark
def test_pipeline_matches_oracle(spark, images_rows):
    df, rows = images_rows
    prog = FilterProgram.from_geojson(default_filter_geojson())

    res = P.run_pipeline(spark, df, prog, z=Z)

    # --- assignments ---
    got_assign = {r.image_id: (r.z, r.x, r.y, r.tile_id, r.px, r.py)
                  for r in res.assignments.select("image_id", "z", "x", "y", "tile_id", "px", "py").collect()}
    want_assign = PO.assignments(rows, Z)
    assert got_assign.keys() == want_assign.keys()
    for k, (z, x, y, tid, px, py) in want_assign.items():
        gz, gx, gy, gtid, gpx, gpy = got_assign[k]
        assert (gz, gx, gy, gtid) == (z, x, y, tid), k
        # JVM Math.log/tan vs glibc differ by ~1 ulp; x 2^z x extent -> ~1e-8
        assert abs(gpx - px) < 1e-6 and abs(gpy - py) < 1e-6

    # --- filter masks + survivors + kept tags ---
    masks = PO.filter_masks(rows, prog)
    want_surv = PO.survivors(rows, prog, masks)
    got = {r.image_id: r for r in res.survivors.select("image_id", "filter_mask", "tags").collect()}
    n_masked = sum(1 for m in masks.values() if m & 0b11)
    assert n_masked > 10, "fixture should cover metro hot spots"
    for k, want in want_surv.items():
        if not want["kept"]:
            assert k not in got, k
        else:
            assert k in got, k
            assert got[k].filter_mask == masks[k], k
            assert tuple(sorted(got[k].tags.keys())) == want["kept_tags"], (k, got[k].tags)
    # global tag rule: no pgf:* or name:fr anywhere (reference E2E assertion)
    for r in got.values():
        assert all(not t.startswith("pgf:") and t != "name:fr" for t in r.tags)
        assert any(t in ("name", "name:ja", "name:en") for t in r.tags)

    # --- dedup, with the H3/S2 cells attached ---
    assert {"s2_cell", "h3_cell"} <= set(res.deduped.columns)
    kept_ids = {r.image_id for r in res.deduped.select("image_id").collect()}
    surv_rows = [r for r in rows if want_surv[r["image_id"]]["kept"]]
    want_keep = PO.dedup_keepers(surv_rows, want_assign)
    assert kept_ids == want_keep

    # --- stats + pyramid consistency ---
    stats = res.stats.collect()
    assert sum(r.n_rows for r in stats) == len(kept_ids)
    pyr = res.pyramid.filter(F.col("z") == 0).collect()
    assert len(pyr) == 1 and pyr[0].n_rows == len(kept_ids)
    levels = {r.z for r in res.pyramid.select("z").distinct().collect()}
    assert levels == set(range(0, Z + 1))


@pytest.mark.spark
def test_pyramid_rollup_rejects_bad_zoom_range(spark):
    """min_z above base_z used to return an empty pyramid, and a negative
    min_z emitted rows at negative zooms."""
    from mvt_wrangler_spark.operators import rollup as R

    base = spark.createDataFrame([(10, 1, 2, 3)], "z int, x long, y long, n_rows long")
    for min_z in (12, -1):
        with pytest.raises(ValueError, match="min_z"):
            R.pyramid_rollup(base, base_z=10, min_z=min_z)


@pytest.mark.parametrize("zooms", [("--min-zoom", "12", "--zoom", "10"),
                                   ("--min-zoom", "-1"),
                                   ("--zoom", "24")])
def test_cli_rejects_bad_zooms(tmp_path, zooms):
    """Bad zooms exit 2 before Spark starts, as a missing input does, and
    write nothing (min-zoom above zoom used to write an empty pyramid)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mvt_wrangler_spark.cli import main

    src, out = tmp_path / "in.parquet", tmp_path / "out"
    pq.write_table(pa.table({"image_id": ["a"], "lon": [139.7], "lat": [35.6],
                             "phash": [7]}), src)
    assert main([str(src), str(out), *zooms]) == 2
    assert not out.exists()


@pytest.mark.spark
def test_pip_join_matches_oracle(spark, images_rows):
    df, rows = images_rows
    prog = FilterProgram.from_geojson(default_filter_geojson())
    polys = [(f"adm{i}", p) for i, feat in enumerate(prog.features[:2]) for p in feat.polygons]
    joined = J.broadcast_pip_join(spark, df.select("image_id", "lon", "lat"), polys)
    got = {(r.image_id, r.admin_id) for r in joined.collect()}
    want = set()
    for r in rows:
        for pid, poly in polys:
            if bool(G.points_in_polygon(np.array([r["lon"]]), np.array([r["lat"]]), poly)[0]):
                want.add((r["image_id"], pid))
    assert got == want and len(want) > 10


@pytest.mark.spark
def test_knn_join_cells_matches_bruteforce(spark, images_rows):
    """Salted cell-bucketed kNN: exact for queries whose k-neighborhood fits
    the 3x3 tile ring (metro queries at z=6: tile ~5.6 deg >> cluster sigma)."""
    df, rows = images_rows
    queries = spark.createDataFrame(
        [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 2.35, 48.86)],
        "query_id string, lon double, lat double")
    got = J.knn_join_cells(df, queries, k=5, z=6, n_salt=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, qlon, qlat in [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 2.35, 48.86)]:
        want = [iid for _, iid in sorted(
            ((r["lon"] - qlon) ** 2 + (r["lat"] - qlat) ** 2, r["image_id"]) for r in rows)[:5]]
        gotq = [nid for _, nid in sorted(by_q[qid])]
        assert gotq == want, qid


@pytest.mark.spark
def test_knn_join_cells_exact_beyond_3x3(spark):
    """Expanding-ring exactness: sparse global data at high zoom (tiny cells)
    puts true neighbors far outside the initial 3x3 ring; queries in empty
    regions and near world edges must still return the global top-k."""
    import numpy as np

    rng = np.random.default_rng(9)
    pts = [(f"d{i:03d}", float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-170, 170, 120), rng.uniform(-80, 80, 120)))]
    df = spark.createDataFrame(pts, "image_id string, lon double, lat double")
    queries = [("qa", 0.0, 0.0), ("qb", -179.5, 0.0), ("qc", 10.0, 84.9),
               ("qd", 100.0, -60.0)]
    qdf = spark.createDataFrame(queries, "query_id string, lon double, lat double")
    # z=10: cell ~0.35 deg, nearest neighbors are typically tens of cells away
    got = J.knn_join_cells(df, qdf, k=5, z=10, n_salt=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist2))
    for qid, qlon, qlat in queries:
        want = sorted(((lo - qlon) ** 2 + (la - qlat) ** 2, iid)
                      for iid, lo, la in pts)[:5]
        gotq = sorted(by_q[qid])
        assert [n for _, n, _ in gotq] == [i for _, i in want], qid
        for (_, _, d2), (wd2, _) in zip(gotq, want):
            assert abs(d2 - wd2) < 1e-9
