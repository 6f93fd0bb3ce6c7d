"""S2 topology columns vs the numpy kernels, incl. negative-id faces 4-5:
the parent column and its SQL twin (the cell_cover_join contract query's
join key)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from tests.oracle.cells_oracle import s2_cell_id, s2_parent


@pytest.mark.spark
def test_s2_parent_column_matches_numpy(spark):
    rng = np.random.RandomState(3)
    lat = rng.uniform(-85, 85, 300)
    lng = rng.uniform(-180, 180, 300)
    cell12 = s2_cell_id(lat, lng, level=12)
    # faces 4-5 produce negative int64 ids — the regression this test pins
    assert (cell12 < 0).any() and (cell12 > 0).any()
    df = spark.createDataFrame(
        [(int(i), int(c)) for i, c in enumerate(cell12)], "i long, cell long")
    for lvl in (4, 6, 10):
        got = {r.i: r.p for r in
               df.withColumn("p", E.s2_parent_column(F.col("cell"), lvl)).collect()}
        want = s2_parent(cell12, lvl)
        for i in range(len(cell12)):
            assert got[i] == int(want[i]), (lvl, i)
        # a parent must equal encoding the same point directly at that level
        direct = s2_cell_id(lat, lng, level=lvl)
        assert (want == direct).all()


def test_s2_parent_sql_twin_matches():
    import duckdb

    rng = np.random.RandomState(5)
    lat = rng.uniform(-85, 85, 200)
    lng = rng.uniform(-180, 180, 200)
    cells = s2_cell_id(lat, lng, level=12)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({int(c)})" for c in cells) + ") v(cell)")
    got = [r[0] for r in con.execute(
        f"SELECT {E.s2_parent_sql('cell', 6)} FROM t").fetchall()]
    want = s2_parent(cells, 6)
    assert got == [int(w) for w in want]
