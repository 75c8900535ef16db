"""Seeded benchmark inputs, generated outside every timed region.

Every input is a pure function of its seed and size and is written once
into the benchmark's work directory, keyed by both, so a later run with
the same seed and size reuses it:

* pages: the Common-Crawl-style pages table of ``datagen.pages``. It holds
  exactly the rows ``datagen.pages.write_pages(spark, n, path, seed,
  partitions=PAGES_FILES)`` writes, one parquet file per ``spark.range``
  partition, but is written with pyarrow so that no second JVM has to
  start before the measured session (``selfcheck`` proves the rows equal);
* lau: a LAU-like tessellation of the page extent as WKB parquet, finer
  near the fixture cities, with triangles and multipolygons.

The query mix reads fixed tables instead: copies of the repository's
sf0.01 ``documents``, ``embeddings`` and ``events`` test tables in
``perfbench/data/``, so the recorded output hashes hold; the workload seed
permutes the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from europe_gis_spark.datagen.geodata import AA_X0, AA_Y0, CITIES
from europe_gis_spark.datagen.hashing import h64, uniform
from europe_gis_spark.geo import wkb

PAGES_TOTAL = 6_000
PAGES_FILES = 4

# LAU tessellation: 2 km base squares over the 100 km x 40 km page extent,
# quadtree-split down to 125 m near the fixture cities
LAU_BASE = 2_000.0
LAU_NX, LAU_NY = 50, 20
LAU_DEPTH_BY_DIST = ((1_500.0, 4), (5_500.0, 3), (12_000.0, 2))
LAU_MAX_DEPTH = 4
TRIANGLE_FRAC = 0.12
MULTI_FRAC = 0.03

_DONE = "_PERFBENCH_DONE"


def cached(path: str) -> bool:
    return os.path.exists(os.path.join(path, _DONE))


def _mark(path: str) -> None:
    with open(os.path.join(path, _DONE), "w") as f:
        f.write("ok\n")


def input_dir(work: str, kind: str, seed: int, size: int) -> str:
    return os.path.join(work, "inputs", f"{kind}_s{seed}_n{size}")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="zstd")


PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(path: str, seed: int, n: int = PAGES_TOTAL, files: int = PAGES_FILES) -> str:
    """Pages parquet, one file per ``spark.range(n, numPartitions=files)``
    partition (ids ``[i*n//files, (i+1)*n//files)``), like ``write_pages``."""
    from europe_gis_spark.datagen import pages as pgen

    if not cached(path):
        os.makedirs(path, exist_ok=True)
        for i in range(files):
            ids = np.arange(i * n // files, (i + 1) * n // files)
            _write(
                pgen.pages_pandas(ids, seed),
                os.path.join(path, f"part-{i:05d}.parquet"),
                PAGES_ARROW,
            )
        _mark(path)
    return path


def page_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _square(x0: float, y0: float, s: float) -> np.ndarray:
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]])


def lau_polygons(seed: int, max_depth: int = LAU_MAX_DEPTH) -> pd.DataFrame:
    """LAU-like tessellation, pure in ``seed``: (lau_id, geometry WKB).

    Base squares split into quadtree leaves whose depth grows near the
    fixture cities (capped at ``max_depth``); the depths are the same for
    every seed, so the work per op is too. A seeded share of leaves is
    cut into two triangles, and a seeded share
    of square leaves is fused with a non-adjacent leaf into one
    multipolygon unit (an exclave). The output order is a seeded
    permutation, so last-wins ties on shared edges differ by seed."""
    cx = np.array([c[1] for c in CITIES])
    cy = np.array([c[2] for c in CITIES])
    leaves: list[tuple[float, float, float]] = []
    for j in range(LAU_NY):
        for i in range(LAU_NX):
            x0 = AA_X0 + i * LAU_BASE
            y0 = AA_Y0 + j * LAU_BASE
            d = np.min(np.hypot(cx - (x0 + LAU_BASE / 2), cy - (y0 + LAU_BASE / 2)))
            depth = next((dd for dist, dd in LAU_DEPTH_BY_DIST if d < dist), 1)
            depth = min(max_depth, depth)
            s = LAU_BASE / (1 << depth)
            n = 1 << depth
            leaves.extend(
                (x0 + a * s, y0 + b * s, s) for b in range(n) for a in range(n)
            )
    ids = np.arange(len(leaves), dtype=np.uint64)
    tri = uniform(ids, seed, 71) < TRIANGLE_FRAC
    flip = uniform(ids, seed, 72) < 0.5
    multi = (uniform(ids, seed, 73) < MULTI_FRAC) & ~tri
    used = np.zeros(len(leaves), dtype=bool)
    geoms: list[bytes] = []
    for k, (x0, y0, s) in enumerate(leaves):
        if used[k]:
            continue
        used[k] = True
        if tri[k]:
            if flip[k]:
                a = [[x0, y0], [x0 + s, y0], [x0, y0 + s], [x0, y0]]
                b = [[x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0 + s, y0]]
            else:
                a = [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0]]
                b = [[x0, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
            geoms.append(wkb.encode_polygon([np.array(a)]))
            geoms.append(wkb.encode_polygon([np.array(b)]))
            continue
        p = k + 7  # same row of the base square, never an edge neighbour
        if multi[k] and p < len(leaves) and not used[p] and not tri[p]:
            used[p] = True
            geoms.append(
                wkb.encode_multipolygon([[_square(x0, y0, s)], [_square(*leaves[p])]])
            )
            continue
        geoms.append(wkb.encode_polygon([_square(x0, y0, s)]))
    order = np.argsort(h64(np.arange(len(geoms), dtype=np.uint64), seed, 74), kind="stable")
    return pd.DataFrame(
        {
            "lau_id": [f"LAU{i:05d}" for i in range(len(geoms))],
            "geometry": [geoms[i] for i in order],
        }
    )


def write_lau(path: str, seed: int, max_depth: int = LAU_MAX_DEPTH) -> str:
    if not cached(path):
        os.makedirs(path, exist_ok=True)
        _write(lau_polygons(seed, max_depth), os.path.join(path, "part-00000.parquet"))
        _mark(path)
    return path


MIX_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def mix_rows(path: str) -> dict[str, int]:
    return {
        name: pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        for name in ("documents", "embeddings", "events")
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
