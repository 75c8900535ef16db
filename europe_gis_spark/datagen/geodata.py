"""Synthetic geometry fixtures — NUTS-like hierarchy, settlements,
population grid, raster tiles (FIXTURES.md §2–6).

Shapes mirror the reference's real inputs: nested NUTS levels 0–3
(``/root/reference/src/data_engineering/raster_processor.py:43-49``,
level files ``src/data_engineering/config.json:22-25``), GEOSTAT-style
1 km population squares keyed by ``GRD_ID`` (``raster_processor.py:
240-258``), country borders with ISO2 (``:51-57``), and 1000-px-tiled
raster layers (``scripts/old_files/echo/dem.bat:1``). All geometry lives
in the planar LAEA-like CRS (meters); every value is a pure function of
the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..geo import proj, wkb
from .hashing import uniform

# Country AA: 60 km × 40 km; country BB: 20 km × 20 km.
AA_X0, AA_Y0 = 4_000_000.0, 3_000_000.0
AA_W, AA_H = 60_000.0, 40_000.0
BB_X0, BB_Y0 = 4_080_000.0, 3_000_000.0
BB_W, BB_H = 20_000.0, 20_000.0
SQ = 10_000.0  # level-3 square side

# (name, x, y, country, hot) — "hot" anchors concentrate page coordinates
# to manufacture the dense-cell skew case (SURVEY.md §7.4 risk 4).
CITIES = [
    ("alphaville", 4_010_500.0, 3_010_500.0, "AA", True),
    ("betatown", 4_031_000.0, 3_021_000.0, "AA", False),
    ("gammaburg", 4_051_000.0, 3_031_000.0, "AA", False),
    ("deltastadt", 4_005_000.0, 3_035_000.0, "AA", False),
    ("epsilon", 4_045_000.0, 3_005_000.0, "AA", False),
    ("zetaport", 4_025_000.0, 3_038_000.0, "AA", False),
    ("etacity", 4_085_000.0, 3_005_000.0, "BB", False),
    ("thetafield", 4_095_000.0, 3_015_000.0, "BB", False),
]


def _rect(x0: float, y0: float, w: float, h: float) -> np.ndarray:
    return np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    )


def admin_polygons() -> pd.DataFrame:
    """NUTS-style nested polygons: levels 0–3, two countries, one
    multipolygon unit, one diagonal (non-axis-aligned) split, one invalid
    geometry (FIXTURES.md §2)."""
    rows = []

    def add(nuts_id, level, cntr, geom_bytes, name=None):
        rows.append(
            {
                "nuts_id": nuts_id,
                "levl_code": level,
                "cntr_code": cntr,
                "nuts_name": name or nuts_id,
                "geometry": geom_bytes,
            }
        )

    # level 0
    add("AA", 0, "AA", wkb.encode_polygon([_rect(AA_X0, AA_Y0, AA_W, AA_H)]))
    add("BB", 0, "BB", wkb.encode_polygon([_rect(BB_X0, BB_Y0, BB_W, BB_H)]))
    # level 1: west / east halves of AA
    add("AA1", 1, "AA", wkb.encode_polygon([_rect(AA_X0, AA_Y0, 30_000.0, AA_H)]))
    add("AA2", 1, "AA", wkb.encode_polygon([_rect(AA_X0 + 30_000.0, AA_Y0, 30_000.0, AA_H)]))
    add("BB1", 1, "BB", wkb.encode_polygon([_rect(BB_X0, BB_Y0, BB_W, BB_H)]))
    # level 2: 3×2 blocks of 20 km over AA
    for bx in range(3):
        for by in range(2):
            add(
                f"AA{bx + 1}{by + 1}",
                2,
                "AA",
                wkb.encode_polygon(
                    [_rect(AA_X0 + bx * 20_000.0, AA_Y0 + by * 20_000.0, 20_000.0, 20_000.0)]
                ),
            )
    add("BB11", 2, "BB", wkb.encode_polygon([_rect(BB_X0, BB_Y0, BB_W, BB_H)]))
    # level 3 over AA: 6×4 grid of 10 km squares, with
    #   (0,0)/(0,1): diagonal-split triangles (non-axis-aligned borders)
    #   (3,3)+(5,3): one disjoint multipolygon unit
    for gx in range(6):
        for gy in range(4):
            x0 = AA_X0 + gx * SQ
            y0 = AA_Y0 + gy * SQ
            nid = f"AA{gx + 1}{gy + 1}3"
            if (gx, gy) == (0, 0):
                add(
                    nid + "a",
                    3,
                    "AA",
                    wkb.encode_polygon(
                        [np.array([[x0, y0], [x0 + SQ, y0], [x0, y0 + SQ], [x0, y0]])]
                    ),
                )
                add(
                    nid + "b",
                    3,
                    "AA",
                    wkb.encode_polygon(
                        [
                            np.array(
                                [
                                    [x0 + SQ, y0],
                                    [x0 + SQ, y0 + SQ],
                                    [x0, y0 + SQ],
                                    [x0 + SQ, y0],
                                ]
                            )
                        ]
                    ),
                )
            elif (gx, gy) in ((3, 3), (5, 3)):
                continue  # folded into the multipolygon below
            else:
                add(nid, 3, "AA", wkb.encode_polygon([_rect(x0, y0, SQ, SQ)]))
    add(
        "AAMP3",
        3,
        "AA",
        wkb.encode_multipolygon(
            [
                [_rect(AA_X0 + 3 * SQ, AA_Y0 + 3 * SQ, SQ, SQ)],
                [_rect(AA_X0 + 5 * SQ, AA_Y0 + 3 * SQ, SQ, SQ)],
            ]
        ),
    )
    # level 3 over BB: 2×2 squares
    for gx in range(2):
        for gy in range(2):
            add(
                f"BB{gx + 1}{gy + 1}3",
                3,
                "BB",
                wkb.encode_polygon(
                    [_rect(BB_X0 + gx * SQ, BB_Y0 + gy * SQ, SQ, SQ)]
                ),
            )
    # invalid geometry: zero-area degenerate ring — must be filtered by
    # the is_valid guard (raster_processor.py:165)
    add(
        "AABAD3",
        3,
        "AA",
        wkb.encode_polygon(
            [np.array([[0.0, 0.0], [1.0, 1.0], [0.0, 0.0], [0.0, 0.0]])]
        ),
    )
    return pd.DataFrame(rows)


def settlements(seed: int = 42, n_cluster: int = 15, n_spread: int = 24) -> pd.DataFrame:
    """kNN targets: one dense cluster (hot cell) + spread points + one
    isolated point forcing ring expansion ≥3 (FIXTURES.md §6)."""
    rows = []
    hot_x, hot_y = CITIES[0][1], CITIES[0][2]
    ids = np.arange(n_cluster, dtype=np.uint64)
    cx = hot_x + (uniform(ids, seed, 1) - 0.5) * 800.0
    cy = hot_y + (uniform(ids, seed, 2) - 0.5) * 800.0
    for i in range(n_cluster):
        rows.append(("S-C%02d" % i, f"cluster{i}", cx[i], cy[i], 1000 + i))
    ids = np.arange(n_spread, dtype=np.uint64)
    sx = AA_X0 + uniform(ids, seed, 3) * AA_W
    sy = AA_Y0 + uniform(ids, seed, 4) * AA_H
    for i in range(n_spread):
        rows.append(("S-S%02d" % i, f"spread{i}", sx[i], sy[i], 5000 + 37 * i))
    # isolated: far corner of BB, >3 km from anything else
    rows.append(("S-ISO", "isolated", BB_X0 + BB_W - 500.0, BB_Y0 + BB_H - 500.0, 99))
    df = pd.DataFrame(rows, columns=["settlement_id", "name", "x", "y", "population"])
    lon, lat = proj.inverse(df["x"].to_numpy(), df["y"].to_numpy())
    df["lon"] = lon
    df["lat"] = lat
    return df


def pop_grid(seed: int = 42) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """1 km population squares over AA + two attribute tables (two CSVs
    exercise unionByName, raster_processor.py:240-254; ~10 % of cells are
    missing attributes to exercise the left join, :258)."""
    cells_rows = []
    nx, ny = int(AA_W / 1000), int(AA_H / 1000)
    for iy in range(ny):
        for ix in range(nx):
            x0 = AA_X0 + ix * 1000.0
            y0 = AA_Y0 + iy * 1000.0
            grd_id = f"1kmN{int(y0 / 1000)}E{int(x0 / 1000)}"
            cells_rows.append(
                {"grd_id": grd_id, "geometry": wkb.encode_polygon([_rect(x0, y0, 1000.0, 1000.0)]),
                 "x0": x0, "y0": y0}
            )
    grid = pd.DataFrame(cells_rows)
    ids = np.arange(len(grid), dtype=np.uint64)
    pop = (uniform(ids, seed, 10) ** 3 * 5000).astype(np.int32)
    present = uniform(ids, seed, 11) >= 0.10
    attrs = pd.DataFrame({"grd_id": grid["grd_id"], "tot_p": pop})[present]
    half = len(attrs) // 2
    return grid, attrs.iloc[:half].reset_index(drop=True), attrs.iloc[half:].reset_index(drop=True)


def raster_tiles(seed: int = 42, tile_w: int = 16, cell_size: float = 1000.0) -> pd.DataFrame:
    """Tiled raster layers over AA (FIXTURES.md §5): dem/pop/ww layers,
    row-major tile arrays, bad value −1000 sprinkled
    (raster_preprocessor.py:5)."""
    nx, ny = int(AA_W / cell_size), int(AA_H / cell_size)  # 60 × 40 px
    tiles_x = (nx + tile_w - 1) // tile_w
    tiles_y = (ny + tile_w - 1) // tile_w
    rows = []
    for layer_i, layer in enumerate(["dem", "pop", "ww"]):
        for tr in range(tiles_y):
            for tc in range(tiles_x):
                px = np.arange(tile_w)
                gx, gy = np.meshgrid(tc * tile_w + px, tr * tile_w + px)
                wx = AA_X0 + gx * cell_size
                wy = AA_Y0 + gy * cell_size
                if layer == "dem":
                    val = (
                        200.0
                        + 150.0 * np.sin(wx / 7000.0)
                        + 120.0 * np.cos(wy / 9000.0)
                    )
                elif layer == "pop":
                    val = 4000.0 * np.exp(
                        -(((wx - CITIES[0][1]) ** 2 + (wy - CITIES[0][2]) ** 2))
                        / (2 * 8000.0**2)
                    )
                else:
                    val = (np.sin(wx / 3000.0) * np.cos(wy / 4000.0) > 0.55).astype(float)
                # mask out-of-extent pixels and a deterministic speckle as bad
                flat_ids = (gy * nx + gx + layer_i * 1_000_000).astype(np.uint64).ravel()
                bad = (uniform(flat_ids, seed, 20) < 0.02).reshape(val.shape)
                val = np.where(bad | (gx >= nx) | (gy >= ny), -1000.0, val)
                rows.append(
                    {
                        "layer": layer,
                        "tile_row": tr,
                        "tile_col": tc,
                        "x0": AA_X0 + tc * tile_w * cell_size,
                        "y0": AA_Y0 + tr * tile_w * cell_size,
                        "cell_size": cell_size,
                        "tile": val.astype(np.float32).ravel().tolist(),
                    }
                )
    return pd.DataFrame(rows)
