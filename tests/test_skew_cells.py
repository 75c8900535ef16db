"""Hot cells through the shuffle spatial join (skew layer)."""

import numpy as np

from europe_gis_spark.geo import cells, wkb
from europe_gis_spark.operators import geo_join


def _square(x0: float, y0: float, side: float) -> bytes:
    ring = np.array(
        [[x0, y0], [x0 + side, y0], [x0 + side, y0 + side], [x0, y0 + side], [x0, y0]]
    )
    return wkb.encode_polygon([ring])


def test_shuffle_pip_hot_cell_keeps_burn_order(spark):
    """Hundreds of points in one res-13 cell plus points scattered over
    several group keys, against overlapping squares whose ``burn`` order
    is not their row order. Every point must get exactly the polygon the
    broadcast path gives when the polygons are indexed in burn order:
    last-wins is decided by the per-group burn sort, not by row order
    or by which salt a point drew."""
    rng = np.random.default_rng(7)
    size = cells.cell_size(cells.RES_DEFAULT)
    x0, y0 = 4_000_000.0, 3_000_000.0
    hot_x = np.floor(x0 / size) * size + 40_000.0
    hot_y = np.floor(y0 / size) * size + 40_000.0
    xs = np.concatenate(
        [hot_x + rng.uniform(0, size, 600), x0 + rng.uniform(-5e3, 105e3, 300)]
    )
    ys = np.concatenate(
        [hot_y + rng.uniform(0, size, 600), y0 + rng.uniform(-5e3, 105e3, 300)]
    )
    ids = [f"p{i}" for i in range(len(xs))]
    # (id, burn, corner, side): every square overlaps the hot cell, and
    # burns are a permutation of the rows: C takes the cell's right half,
    # A its left half, though E and D come after A in row order
    squares = [
        ("A", 3, (x0, y0), 60e3),
        ("B", 0, (x0 + 30e3, y0 + 30e3), 60e3),
        ("C", 4, (hot_x + size / 2, hot_y - 5e3), 10e3),
        ("D", 1, (x0 + 20e3, y0 + 20e3), 80e3),
        ("E", 2, (hot_x, hot_y), size / 2),
    ]
    rows = [(pid, _square(*corner, side), burn) for pid, burn, corner, side in squares]
    polys = spark.createDataFrame(rows, "nuts_id string, geometry binary, burn long")
    pts = spark.createDataFrame(
        list(zip(ids, xs.tolist(), ys.tolist())), "url string, x double, y double"
    )

    out = geo_join.pip_join_shuffle(pts, polys).collect()
    got = {r.url: r.poly_id for r in out}
    by_burn = sorted(rows, key=lambda r: r[2])
    idx = geo_join.build_polygon_index_bc(
        spark, spark.createDataFrame(by_burn, "nuts_id string, geometry binary, burn long")
    )
    want = {r.url: r.poly_id for r in geo_join.assign_polygons(pts, idx).collect()}
    assert len(out) == len(got) == len(ids)
    assert got == want
    hot = {want[u] for u in ids[:600]}
    assert hot == {"A", "C"}, hot
    assert None in want.values()
