import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rtree_cpp_spark.functions.cells import Grid, pick_resolution

G = Grid(6)  # 64x64 over [0,1024): cell size 16


def test_cell_of_point_basics():
    assert G.cell_of_point(0.0, 0.0) == 0
    assert G.cell_of_point(15.99, 15.99) == 0
    assert G.cell_of_point(16.0, 0.0) == 1 << 6
    assert G.cell_of_point(0.0, 16.0) == 1
    # clamped outside domain
    assert G.cell_of_point(5000.0, -3.0) == (63 << 6) | 0


def test_cover_touching_boundary_includes_next_cell():
    # rect ending exactly on a cell boundary covers the next cell too,
    # so closed-interval touching pairs share a candidate cell
    cells = G.cover_cells_one(0.0, 0.0, 16.0, 8.0)
    assert set(cells.tolist()) == {0, 1 << 6}


def test_cover_batch_matches_one():
    rng = np.random.default_rng(0)
    mins = rng.uniform(0, 1000, size=(50, 2))
    w = rng.uniform(0, 40, size=(50, 2))
    maxs = mins + w
    row_idx, cells = G.cover_cells_batch(mins[:, 0], mins[:, 1], maxs[:, 0], maxs[:, 1])
    for i in range(50):
        expect = set(G.cover_cells_one(mins[i, 0], mins[i, 1], maxs[i, 0], maxs[i, 1]).tolist())
        got = set(cells[row_idx == i].tolist())
        assert got == expect


def test_ring_and_disk():
    disk = G.disk_cells(10, 10, 2)
    assert len(disk) == 25
    ring = G.ring_cells(10, 10, 2)
    assert len(ring) == 16
    assert set(ring.tolist()) <= set(disk.tolist())
    # clamped at the edge
    assert len(G.disk_cells(0, 0, 1)) == 4


def test_parent_and_bounds():
    cell = G.encode(13, 42)
    assert G.parent(cell) == (6 << 5) | 21  # (cx>>1, cy>>1) encoded at level 5
    x0, y0, x1, y1 = G.cell_bounds(cell)
    assert (x0, y0, x1, y1) == (13 * 16.0, 42 * 16.0, 14 * 16.0, 43 * 16.0)


def test_morton_locality():
    # morton of adjacent cells differs in low bits only (sanity)
    m1 = G.morton(G.encode(3, 3))
    m2 = G.morton(G.encode(3, 4))
    assert m1 != m2


@settings(max_examples=200, deadline=None)
@given(
    x=st.floats(min_value=0, max_value=1023.75),
    y=st.floats(min_value=0, max_value=1023.75),
    lvl=st.integers(min_value=1, max_value=10),
)
def test_point_cell_within_cover_property(x, y, lvl):
    g = Grid(lvl)
    cell = int(g.cell_of_point(x, y))
    cover = g.cover_cells_one(x, y, x, y)
    assert cell in set(cover.tolist())
    x0, y0, x1, y1 = g.cell_bounds(cell)
    assert x0 <= x <= x1 and y0 <= y <= y1


def test_pick_resolution():
    assert pick_resolution({4: 300.0, 5: 80.0, 6: 20.0}) == 5
    assert pick_resolution({4: 30.0, 5: 8.0}) == 4  # too sparse: coarsest
    assert pick_resolution({4: 300.0, 5: 80.0, 6: 64.0}) == 6


def test_sql_twin_matches_numpy(spark):
    import pandas as pd

    pts = pd.DataFrame({"x": [0.0, 15.99, 16.0, 1023.75, 512.5], "y": [0.0, 3.0, 16.0, 1023.75, 0.25]})
    expected = G.cell_of_point(pts["x"].to_numpy(), pts["y"].to_numpy())
    df = spark.createDataFrame(pts)
    got_col = df.select(G.cell_of_point_col(df["x"], df["y"]).alias("c")).toPandas()["c"].to_numpy()
    got_sql = (
        df.selectExpr(G.cell_of_point_sql("x", "y") + " as c").toPandas()["c"].to_numpy()
    )
    np.testing.assert_array_equal(got_col, expected)
    np.testing.assert_array_equal(got_sql, expected)
    # and DuckDB evaluates the same SQL string identically
    import duckdb

    got_duck = (
        duckdb.connect()
        .execute(f"select {G.cell_of_point_sql('x', 'y')} as c from pts")
        .fetchdf()["c"]
        .to_numpy()
    )
    np.testing.assert_array_equal(got_duck, expected)


def test_coarse_cell_col_exact_above_2_53(spark):
    # Grid(30) cell ids reach 2^60; a double division rounds cx = 2^28-1
    # up to 2^28 and lands the cell in the wrong coarse parent
    import pandas as pd
    from pyspark.sql import functions as F

    from jobs._common import coarse_cell_col

    g, coarse = Grid(30), 3
    cx = np.array([(1 << 28) - 1, 0, g.n - 1, 5], dtype=np.int64)
    cy = np.array([g.n - 1, 0, g.n - 1, (1 << 27) + 3], dtype=np.int64)
    cells = g.encode(cx, cy)
    up = g.level - coarse
    expected = ((cx >> up) << coarse) | (cy >> up)
    assert expected[0] == 15
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}))
    got = df.select(coarse_cell_col(g, coarse, F.col("cell"))).toPandas()["part"].to_numpy()
    np.testing.assert_array_equal(got, expected)
