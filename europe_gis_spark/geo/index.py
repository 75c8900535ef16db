"""Broadcast polygon index: cell cover + exact-refine lookup.

Spark-side shape of the reference's rasterize/overlay joins (SURVEY.md
§2.3 J3/J6): the polygon set is small (NUTS ≈ 1 500, LAU ≈ 1e5 —
``/root/reference/src/data_engineering/raster_processor.py:43-57``), so it
is indexed once on the driver and broadcast; the trillion-row point side
then (a) buckets by cell id with a plain column expression, (b) equi-joins
or dict-probes the cover, (c) refines with vectorized point-in-polygon
inside one Arrow-batched pandas UDF. No per-row Python anywhere.

The index is deliberately a plain picklable object (dict[int, np.ndarray]
+ ring arrays) — cheap to broadcast, unpickled once per executor worker
process by Spark's broadcast machinery (SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import cells, geom, wkb


@dataclass
class PolyIndex:
    """cell id → candidate polygon ordinals, plus decoded geometries."""

    poly_ids: list  # external ids (e.g. nuts_id strings), ordinal order
    parts: list  # decoded ring-lists per polygon, ordinal order
    res: int
    cell_to_polys: dict = field(default_factory=dict)  # int -> np.ndarray[int32]
    bboxes: np.ndarray | None = None  # (n,4) xmin,ymin,xmax,ymax

    def candidates(self, cid: int) -> np.ndarray:
        return self.cell_to_polys.get(int(cid), _EMPTY)

    def n_cells(self) -> int:
        return len(self.cell_to_polys)


_EMPTY = np.empty(0, dtype=np.int32)


def build_index(
    polygons: list[tuple[str, bytes]],
    res: int = cells.RES_DEFAULT,
    validate: bool = True,
) -> PolyIndex:
    """Build the broadcastable index from (id, wkb) pairs.

    Invalid geometries are dropped, mirroring the reference's
    ``is_valid_geom`` guard before every burn
    (``raster_processor.py:165,177,201,213,279,303``).
    """
    poly_ids: list[str] = []
    parts_list: list = []
    bboxes = []
    cell_map: dict[int, list[int]] = {}
    for pid, buf in polygons:
        parts = wkb.polygon_parts(wkb.decode(buf))
        if validate and not geom.is_valid_polygon(parts):
            continue
        ordinal = len(poly_ids)
        poly_ids.append(pid)
        parts_list.append(parts)
        bboxes.append(geom.geom_bbox(wkb.Geom(wkb.WKB_MULTIPOLYGON, parts)))
        for cid in cells.cover_polygon(parts, res):
            cell_map.setdefault(int(cid), []).append(ordinal)
    packed = {k: np.array(v, dtype=np.int32) for k, v in cell_map.items()}
    return PolyIndex(
        poly_ids=poly_ids,
        parts=parts_list,
        res=res,
        cell_to_polys=packed,
        bboxes=np.array(bboxes) if bboxes else np.empty((0, 4)),
    )


def assign_points(
    idx: PolyIndex,
    px: np.ndarray,
    py: np.ndarray,
    match: str = "last",
):
    """Assign each point to covering polygon id(s).

    Returns (row_idx, poly_ordinal) int arrays. Points on a polygon's
    boundary count as inside it (``ST_Intersects``). ``match`` selects
    the overlap rule:

      * ``'last'`` (default) — highest ordinal wins per point. This is
        rasterio ``MergeAlg.replace`` semantics: each burn OVERWRITES
        earlier burns, so the last polygon in input order wins (G4,
        ``raster_processor.py:167-175``; value burns at ``:279-291``).
      * ``'all'`` — every covering polygon, one pair per hit
        (MergeAlg.add overlap counting, G3, ``:176-188``).

    Vectorized per candidate polygon: points are grouped by cell, cells
    by candidate set, then one ``points_in_polygon`` call per polygon over
    all its candidate points.
    """
    if match not in ("last", "all"):
        raise ValueError(f"match must be 'last'|'all', got {match!r}")
    n = len(px)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    cid = cells.cell_id(px, py, idx.res)
    # group candidate point-rows per polygon ordinal
    per_poly: dict[int, list[np.ndarray]] = {}
    uniq, inv = np.unique(cid, return_inverse=True)
    for u_i, u in enumerate(uniq):
        cands = idx.candidates(int(u))
        if len(cands) == 0:
            continue
        rows = np.nonzero(inv == u_i)[0]
        for p in cands:
            per_poly.setdefault(int(p), []).append(rows)
    out_rows: list[np.ndarray] = []
    out_polys: list[np.ndarray] = []
    for p, row_chunks in per_poly.items():
        rows = np.concatenate(row_chunks)
        hit = geom.points_in_polygon(px[rows], py[rows], idx.parts[p])
        got = rows[hit]
        if len(got):
            out_rows.append(got)
            out_polys.append(np.full(len(got), p, dtype=np.int32))
    if not out_rows:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    rows = np.concatenate(out_rows)
    polys = np.concatenate(out_polys)
    if match == "last":
        order = np.lexsort((polys, rows))  # by row, then ordinal asc
        rows, polys = rows[order], polys[order]
        # keep the final (highest-ordinal) entry per row
        keep = np.ones(len(rows), dtype=bool)
        keep[:-1] = rows[:-1] != rows[1:]
        rows, polys = rows[keep], polys[keep]
    return rows.astype(np.int64), polys
