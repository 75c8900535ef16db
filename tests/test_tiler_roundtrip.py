"""Tiler ingest roundtrip (S11) and per-tile union (G10).

``cells_to_tiles`` assembles tiles with JVM expressions; the numpy
scatter it replaced (one ``applyInPandas`` group per tile) is kept here
as the oracle, compared bit for bit."""

import numpy as np
import pandas as pd
import pytest

from europe_gis_spark.datagen import geodata
from europe_gis_spark.operators import zonal

CELLS = "layer string, y int, x int, value double"


def _numpy_tiles(cells: pd.DataFrame, tile_w: int, fill: float) -> dict:
    """The former tiler body: truncating tile division, one float32
    block per (layer, tile_row, tile_col), values scattered by slot."""
    key = (
        cells["layer"],
        (cells["y"] / tile_w).astype(int),
        (cells["x"] / tile_w).astype(int),
    )
    out = {}
    for (layer, trow, tcol), pdf in cells.groupby(list(key)):
        block = np.full(tile_w * tile_w, fill, dtype=np.float32)
        iy = pdf["y"].to_numpy() - trow * tile_w
        ix = pdf["x"].to_numpy() - tcol * tile_w
        block[iy * tile_w + ix] = pdf["value"].to_numpy(dtype=np.float32)
        out[(layer, trow, tcol)] = block
    return out


def _spark_tiles(spark, cells: pd.DataFrame, tile_w: int, fill: float) -> dict:
    got = zonal.cells_to_tiles(spark.createDataFrame(cells, CELLS), tile_w, fill)
    return {
        (r.layer, r.tile_row, r.tile_col): np.array(r.tile, dtype=np.float32)
        for r in got.collect()
    }


def _assert_same_bits(got: dict, want: dict):
    assert got.keys() == want.keys()
    for k, block in want.items():
        assert got[k].view(np.uint32).tolist() == block.view(np.uint32).tolist(), k


def test_cells_to_tiles_roundtrip(spark):
    tiles = geodata.raster_tiles()
    df = spark.createDataFrame(tiles[tiles.layer == "dem"])
    cells = zonal.tiles_to_cells(df, tile_w=16)
    back = zonal.cells_to_tiles(cells, tile_w=16).toPandas()
    want = {
        (r.tile_row, r.tile_col): np.array(r.tile, dtype=np.float32)
        for r in tiles[tiles.layer == "dem"].itertuples()
    }
    assert len(back) == len(want)
    for r in back.itertuples():
        np.testing.assert_array_equal(
            np.array(r.tile, dtype=np.float32), want[(r.tile_row, r.tile_col)]
        )


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_tiles_match_numpy_scatter(spark, seed):
    """Sparse random cells over several layers and tiles, values that
    round when narrowed to float32 (and overflow it), NaN and NULL
    values, against the numpy oracle bit for bit."""
    rng = np.random.default_rng(seed)
    tile_w = int(rng.choice([4, 7, 16]))
    fill = float(rng.choice([-1000.0, 0.0, np.nan]))
    n = 600
    flat = rng.choice(3 * 60 * 50, size=n, replace=False)
    layer = np.array(["a", "b", "c"])[flat // 3000]
    y, x = (flat % 3000) // 50, flat % 50
    value = rng.normal(0, 1e3, n) * 10.0 ** rng.integers(-30, 40, n)
    value[rng.random(n) < 0.05] = np.nan
    cells = pd.DataFrame({"layer": layer, "y": y, "x": x, "value": value})
    with np.errstate(over="ignore"):  # values past float32 become ±inf
        want = _numpy_tiles(cells, tile_w, fill)
    _assert_same_bits(_spark_tiles(spark, cells, tile_w, fill), want)
    # a NULL value is NaN, as it was through pandas
    cells["value"] = cells["value"].astype(object).where(cells["value"].notna(), None)
    _assert_same_bits(_spark_tiles(spark, cells, tile_w, fill), want)


def test_negative_cells_tile_by_floor_and_roundtrip(spark):
    """Pinned: a cell at negative x or y lands in tile floor(x / tile_w)
    (the numpy scatter truncated, so such cells wrapped around into
    tile 0), and tiles_to_cells gives every cell back."""
    cells = pd.DataFrame(
        {
            "layer": ["n"] * 5,
            "y": [-1, -16, -17, 0, 15],
            "x": [-1, 3, -33, -16, 16],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    got = _spark_tiles(spark, cells, 16, -1000.0)
    assert sorted(got) == [
        ("n", -2, -3), ("n", -1, -1), ("n", -1, 0), ("n", 0, -1), ("n", 0, 1)
    ]
    assert got[("n", -1, -1)][15 * 16 + 15] == 1.0
    assert got[("n", -2, -3)][15 * 16 + 15] == 3.0
    tiles = zonal.cells_to_tiles(spark.createDataFrame(cells, CELLS), 16).selectExpr(
        "*", "tile_col * 16.0 AS x0", "tile_row * 16.0 AS y0", "1.0 AS cell_size"
    )
    back = zonal.tiles_to_cells(tiles, 16).filter("value > -1000").toPandas()
    want = sorted(zip(cells.y, cells.x, cells.value))
    assert sorted(zip(back.y, back.x, back.value)) == want
    assert (back.wx == back.x).all() and (back.wy == back.y).all()


def test_tiler_query_cells_are_never_negative(spark):
    """The registered tiler queries bin event_points into 2 km cells from
    (AA_X0, AA_Y0); event ids are non-negative in every fixture, so no
    query reaches the negative-cell behaviour above."""
    import os

    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from europe_gis_spark import queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for sf in (SF_SMOKE, os.path.join(root, "perfbench", "data")):
        if not os.path.exists(os.path.join(sf, "events.parquet")):
            continue
        pts = queries.event_points(spark, sf)
        lo = pts.agg(
            F.min("event_id").alias("id"),
            F.min(F.floor((F.col("x") - queries.AA_X0) / 2000.0)).alias("x"),
            F.min(F.floor((F.col("y") - queries.AA_Y0) / 2000.0)).alias("y"),
        ).first()
        assert lo.id >= 0 and lo.x >= 0 and lo.y >= 0, (sf, lo)


def test_two_values_for_one_slot_raise(spark):
    cells = pd.DataFrame({"layer": ["d", "d"], "y": [3, 3], "x": [4, 4], "value": [1.0, 2.0]})
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        _spark_tiles(spark, cells, 16, -1000.0)


def test_per_tile_union(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "tile_row": [0, 0, 0, 1],
                "tile_col": [0, 0, 1, 1],
                "value": [2.0, 3.0, 5.0, 7.0],
            }
        )
    )
    got = {
        (r.tile_row, r.tile_col): (r.n_burns, r.sum_value, r.max_value)
        for r in zonal.per_tile_union(pairs).collect()
    }
    assert got == {(0, 0): (2, 5.0, 3.0), (0, 1): (1, 5.0, 5.0), (1, 1): (1, 7.0, 7.0)}
