"""Output checks that feed ``ok_ops_frac``.

* ``geo_oracle_match``: the exhaustive numpy oracle of
  ``bench.assignment_match_rate`` (every resolvable point tested against
  every valid polygon, last-wins burn order), with a bounding-box
  prefilter so that a LAU-scale polygon set stays tractable. Run once on
  a fixed sample before timing; it must read exactly 1.0.
* ``counts_ok``: a geo op's region counts sum to the number of pages read
  and equal the reference counts of the warm-up op.
* ``rows_hash``: the order-insensitive output hash of a query, compared
  with the hash recorded for it in ``mix_hashes.json``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

#: points per bbox-prefilter block: a (block x polygons) boolean matrix
_BLOCK = 512


def decoded_polygons(polys: pd.DataFrame, id_col: str) -> tuple[list, list, np.ndarray]:
    """Valid polygons in input order: ids, ring parts, (n, 4) bboxes."""
    from europe_gis_spark.geo import geom, wkb

    ids, parts, boxes = [], [], []
    for pid, buf in zip(polys[id_col], polys["geometry"]):
        p = wkb.polygon_parts(wkb.decode(bytes(buf)))
        if geom.is_valid_polygon(p):
            ids.append(pid)
            parts.append(p)
            boxes.append(geom.geom_bbox(wkb.Geom(wkb.WKB_MULTIPOLYGON, p)))
    return ids, parts, np.array(boxes).reshape(-1, 4)


def resolve_points(pages: pd.DataFrame, hints: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Planar (x, y) per page by the engine's decision order: inline
    coordinate, else hostname hint, else NaN."""
    from europe_gis_spark.extract import html as hx
    from europe_gis_spark.geo import proj

    hint_map = {r.host: (r.lat, r.lon) for r in hints.itertuples()}
    lat = np.full(len(pages), np.nan)
    lon = np.full(len(pages), np.nan)
    for i, (url, html, text) in enumerate(zip(pages.url, pages.html, pages.text)):
        c = hx.extract_coords(html, text)
        if c is None:
            c = hint_map.get(hx.extract_host(url))
        if c is not None:
            lat[i], lon[i] = c
    return proj.forward(lon, lat)


def oracle_assign(x: np.ndarray, y: np.ndarray, ids: list, parts: list, boxes: np.ndarray) -> list:
    """Last-wins polygon id per point (None when no polygon covers it).

    Exhaustive over every polygon whose closed bbox holds the point; a
    point outside a polygon's bbox cannot be inside or on it, so the
    prefilter drops no hit."""
    from europe_gis_spark.geo import geom

    want: list = [None] * len(x)
    ok = np.nonzero(np.isfinite(x) & np.isfinite(y))[0]
    for s in range(0, len(ok), _BLOCK):
        rows = ok[s : s + _BLOCK]
        px, py = x[rows][:, None], y[rows][:, None]
        inbox = (
            (boxes[None, :, 0] <= px)
            & (px <= boxes[None, :, 2])
            & (boxes[None, :, 1] <= py)
            & (py <= boxes[None, :, 3])
        )
        for j, r in enumerate(rows):
            for k in np.nonzero(inbox[j])[0]:  # ascending: later burns win
                if geom.points_in_polygon(x[r : r + 1], y[r : r + 1], parts[k], "include")[0]:
                    want[r] = ids[k]
    return want


def geo_oracle_match(spark, pages: pd.DataFrame, polys: pd.DataFrame, id_col: str, idx_bc, hints) -> float:
    """Share of sample pages whose engine assignment (``tag_pages`` with
    the workload's broadcast index) equals the oracle's."""
    from europe_gis_spark.operators import geo_join

    got = {
        r.url: r.poly_id
        for r in geo_join.tag_pages(
            spark.createDataFrame(pages), idx_bc, host_hints=hints
        ).collect()
    }
    x, y = resolve_points(pages, hints)
    want = oracle_assign(x, y, *decoded_polygons(polys, id_col))
    n_match = sum(got.get(u, "<missing>") == w for u, w in zip(pages.url, want))
    return n_match / len(pages)


def region_counts(rows) -> dict:
    return {r["nuts_id"]: int(r["n_pages"]) for r in rows}


def counts_ok(counts: dict, n_rows: int, ref: dict | None) -> bool:
    return sum(counts.values()) == n_rows and (ref is None or counts == ref)


def _value_repr(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value_repr(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return repr(v)


def rows_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of column names plus row values."""
    lines = sorted("|".join(_value_repr(v) for v in r) for r in rows)
    h = hashlib.sha256(",".join(columns).encode())
    for line in lines:
        h.update(line.encode())
    return h.hexdigest()[:16]
