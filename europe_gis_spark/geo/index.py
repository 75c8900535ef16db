"""Broadcast polygon index: cell cover + exact-refine lookup.

Spark-side shape of the reference's rasterize/overlay joins (SURVEY.md
§2.3 J3/J6): the polygon set is small (NUTS ≈ 1 500, LAU ≈ 1e5 —
``/root/reference/src/data_engineering/raster_processor.py:43-57``), so it
is indexed once on the driver and broadcast; the trillion-row point side
then (a) buckets by cell id with a plain column expression, (b) equi-joins
or probes the cover, (c) refines with vectorized point-in-polygon
inside one Arrow-batched pandas UDF. No per-row Python anywhere.

The index is nothing but flat numpy arrays (a CSR cell → polygon table,
per-polygon probe boxes, and every ring's vertices with a ring id per
edge) — cheap to broadcast, unpickled once per
executor worker process by Spark's broadcast machinery (SURVEY.md §7.4
risk 6) in milliseconds. ``assign_points`` probes it in one vectorized
pass over (point, polygon, edge) rows, evaluating the edge predicates of
``geom.points_in_polygon`` with no per-cell or per-polygon Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import cells, geom, wkb

# (pair, edge) rows evaluated per probe step: bounds the probe's
# temporaries (about 15 arrays of this length) for many-vertex polygons
_EDGE_CHUNK = 1 << 18


@dataclass
class PolyIndex:
    """A polygon set as flat arrays, polygons in ordinal order.

    * ``keys`` (k,) sorted cover cell ids; ``ords[offsets[i]:offsets[i+1]]``
      are the polygon ordinals (ascending) whose cover holds ``keys[i]``.
    * ``boxes`` (4, n) the probe's pre-filter: each polygon's bbox over
      every ring vertex (``_edge_bboxes``) widened on all sides by how far
      outside it a point can still be on the boundary (``_probe_margin``),
      as xmin, ymin, xmax, ymax rows.
    * ``verts`` (2, V) x, y of every closed ring's vertices, polygon by
      polygon, part by part, shell before holes; ``edge_ring`` (m,) the
      global ring id of each edge. Edges and vertices are numbered alike
      but every earlier ring has one vertex more (its closing one), so
      edge e runs from vertex ``e + edge_ring[e]`` to the next: the edge
      table costs 4 bytes per edge on top of the vertices. Polygon p owns
      edges ``edge_offsets[p]:edge_offsets[p+1]``.
    * ``ring_is_hole`` (r,): every part is its shell ring followed by its
      holes, so each non-hole ring starts a new part.
    """

    poly_ids: list  # external ids (e.g. nuts_id strings), ordinal order
    res: int
    keys: np.ndarray
    offsets: np.ndarray
    ords: np.ndarray
    boxes: np.ndarray
    verts: np.ndarray
    edge_ring: np.ndarray
    edge_offsets: np.ndarray
    ring_is_hole: np.ndarray

    def n_cells(self) -> int:
        return len(self.keys)

    @property
    def cell_to_polys(self) -> dict:
        """cell id → polygon ordinals, built from the CSR arrays on each
        access (a read-only view for size reports; the probe never uses it)."""
        return {
            int(k): self.ords[self.offsets[i] : self.offsets[i + 1]]
            for i, k in enumerate(self.keys)
        }


def _edge_bboxes(edges, edge_offsets: np.ndarray) -> np.ndarray:
    """(n, 4) xmin, ymin, xmax, ymax per polygon from its edges' x1, y1
    (``edges[:2]``). Rings are closed, so the start points are every vertex."""
    starts = edge_offsets[:-1]
    return np.stack(
        [
            np.minimum.reduceat(edges[0], starts),
            np.minimum.reduceat(edges[1], starts),
            np.maximum.reduceat(edges[0], starts),
            np.maximum.reduceat(edges[1], starts),
        ],
        axis=1,
    )


def _probe_margin(edges, edge_offsets: np.ndarray, bboxes: np.ndarray) -> np.ndarray:
    """Per-polygon bbox margin of the probe's pre-filter.

    A pair is dropped before the exact test only when its point lies
    outside the polygon's bbox by more than the margin. Crossing parity
    is even there (a ray from outside the bbox crosses a closed ring an
    even number of times), so the margin must bound how far from an
    edge ``geom.edge_near`` still calls a point "on". For an edge of
    length L > 0 it accepts
      |cross| = L·dist ≤ EPS·L  →  dist ≤ EPS across it,
      −EPS ≤ t ≤ 1 + EPS       →  up to EPS·L beyond either end,
    so such a point is at most EPS·(L + 1) outside the edge's bbox; a
    zero-length edge accepts points within EPS of its vertex, the same
    bound at L = 0. The margin is twice the largest of these over the
    polygon's edges (slack for rounding in cross and t), plus four ulps
    of the polygon's largest coordinate (slack for the rounded ray
    intersection ``xint``).
    """
    dx, dy = edges[2] - edges[0], edges[3] - edges[1]
    reach = geom.EPS * (np.sqrt(dx * dx + dy * dy) + 1.0)
    return 2.0 * np.maximum.reduceat(reach, edge_offsets[:-1]) + 4.0 * np.spacing(
        np.abs(bboxes).max(axis=1)
    )


def build_index(polygons: list[tuple[str, bytes]], res: int = cells.RES_DEFAULT) -> PolyIndex:
    """Build the broadcastable index from (id, wkb) pairs.

    Invalid geometries are dropped, mirroring the reference's
    ``is_valid_geom`` guard before every burn
    (``raster_processor.py:165,177,201,213,279,303``); the probe relies on
    what validity guarantees: closed rings of at least three edges.

    One pass per polygon decodes, validates and covers it; every array is
    then made at once by concatenation and cumulative sums (no per-polygon
    array work, nothing quadratic in the polygon count).
    """
    poly_ids: list[str] = []
    rings: list[np.ndarray] = []
    ring_is_hole: list[bool] = []
    rings_per_poly: list[int] = []
    covers: list[np.ndarray] = []
    for pid, buf in polygons:
        parts = wkb.polygon_parts(wkb.decode(buf))
        if not geom.is_valid_polygon(parts):
            continue
        poly_ids.append(pid)
        covers.append(cells.cover_polygon(parts, res))
        for part in parts:
            rings.extend(part)
            ring_is_hole.extend([False] + [True] * (len(part) - 1))
        rings_per_poly.append(sum(len(part) for part in parts))
    n = len(poly_ids)

    # CSR: stable sort by cell keeps each cell's ordinals ascending
    n_cover = np.array([len(c) for c in covers], dtype=np.int64)
    cell = np.concatenate([np.empty(0, np.int64), *covers])
    order = np.argsort(cell, kind="stable")
    keys, first = np.unique(cell[order], return_index=True)
    ords = np.repeat(np.arange(n, dtype=np.int32), n_cover)[order]
    offsets = np.append(first, len(cell)).astype(np.int64)

    # edge table: vertex i → i+1 for every vertex but each ring's last
    verts = np.ascontiguousarray(np.concatenate([np.empty((0, 2)), *rings]).T)
    ring_len = np.array([len(r) for r in rings], dtype=np.int64)
    is_start = np.ones(verts.shape[1], dtype=bool)
    is_start[np.cumsum(ring_len) - 1] = False
    a = np.flatnonzero(is_start)
    edges = (verts[0, a], verts[1, a], verts[0, a + 1], verts[1, a + 1])
    edge_ring = np.repeat(np.arange(len(rings), dtype=np.int32), ring_len - 1)
    ring_edge_off = np.concatenate([[0], np.cumsum(ring_len - 1)])
    edge_offsets = ring_edge_off[np.concatenate([[0], np.cumsum(rings_per_poly, dtype=np.int64)])]

    bboxes = _edge_bboxes(edges, edge_offsets)
    margin = _probe_margin(edges, edge_offsets, bboxes)
    return PolyIndex(
        poly_ids=poly_ids,
        res=res,
        keys=keys,
        offsets=offsets,
        ords=ords,
        boxes=np.stack([bboxes[:, 0] - margin, bboxes[:, 1] - margin,
                        bboxes[:, 2] + margin, bboxes[:, 3] + margin]),
        verts=verts,
        edge_ring=edge_ring,
        edge_offsets=edge_offsets,
        ring_is_hole=np.array(ring_is_hole, dtype=bool),
    )


def _ranges(start: np.ndarray, count: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + c)`` over (start, count) pairs."""
    seg_start = np.cumsum(count) - count
    return np.repeat(start - seg_start, count) + np.arange(int(count.sum()))


def _pairs_hit(idx: PolyIndex, x: np.ndarray, y: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """``geom.points_in_polygon`` (boundary included) of point i against
    polygon ``poly[i]``, for every i at once."""
    e_lo = idx.edge_offsets[poly]
    e_cnt = idx.edge_offsets[poly + 1] - e_lo
    pe = np.repeat(np.arange(len(poly)), e_cnt)  # pair of each (pair, edge) row
    e = _ranges(e_lo, e_cnt)
    ring = idx.edge_ring[e]
    a = e + ring  # start vertex
    x1, y1, x2, y2 = idx.verts[0, a], idx.verts[1, a], idx.verts[0, a + 1], idx.verts[1, a + 1]
    X, Y = x[pe], y[pe]
    crossing = geom.edge_crossings(X, Y, x1, y1, x2, y2)
    near = geom.edge_near(X, Y, x1, y1, x2, y2)
    # crossing parity per (pair, ring) run: a ring's edges are contiguous
    run = np.flatnonzero(
        np.concatenate([[True], (pe[1:] != pe[:-1]) | (ring[1:] != ring[:-1])])
    )
    odd = np.logical_xor.reduceat(crossing, run)
    hole = idx.ring_is_hole[ring[run]]
    # per part: inside its shell and inside none of its holes
    part = np.flatnonzero(~hole)
    in_part = odd[part] & ~np.logical_or.reduceat(odd & hole, part)
    inside = np.bincount(pe[run[part]], weights=in_part, minlength=len(poly)) > 0
    on_boundary = np.bincount(pe, weights=near, minlength=len(poly)) > 0
    return inside | on_boundary


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
      * ``'all'`` — every covering polygon, one pair per hit, by row then
        ordinal (MergeAlg.add overlap counting, G3, ``:176-188``).

    One vectorized probe: cell ids are looked up in the sorted keys, each
    point expands to one (point, polygon) pair per candidate, pairs outside
    the polygon's bbox plus margin are dropped, and the rest are refined
    exactly over all their edges at once (``_pairs_hit``).
    """
    if match not in ("last", "all"):
        raise ValueError(f"match must be 'last'|'all', got {match!r}")
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    cid = cells.cell_id(px, py, idx.res)
    k = np.searchsorted(idx.keys, cid)
    pt = np.flatnonzero(k < len(idx.keys))
    pt = pt[idx.keys[k[pt]] == cid[pt]]  # the -1 sentinel is never a key
    lo = idx.offsets[k[pt]]
    cnt = idx.offsets[k[pt] + 1] - lo
    rows = np.repeat(pt, cnt)
    polys = idx.ords[_ranges(lo, cnt)]

    x, y = px[rows], py[rows]
    xmin, ymin, xmax, ymax = idx.boxes
    keep = (x >= xmin[polys]) & (y >= ymin[polys]) & (x <= xmax[polys]) & (y <= ymax[polys])
    rows, polys, x, y = rows[keep], polys[keep], x[keep], y[keep]

    # refine in steps of about _EDGE_CHUNK (pair, edge) rows
    hit = np.zeros(len(rows), dtype=bool)
    n_edges = np.cumsum(idx.edge_offsets[polys + 1] - idx.edge_offsets[polys])
    s = 0
    while s < len(rows):
        done = n_edges[s - 1] if s else 0
        stop = max(s + 1, int(np.searchsorted(n_edges, done + _EDGE_CHUNK, side="right")))
        hit[s:stop] = _pairs_hit(idx, x[s:stop], y[s:stop], polys[s:stop])
        s = stop
    rows, polys = rows[hit], polys[hit]
    if match == "last":
        order = np.lexsort((polys, rows))  # by row, then ordinal asc
        rows, polys = rows[order], polys[order]
        # keep the final (highest-ordinal) entry per row
        keep = np.ones(len(rows), dtype=bool)
        keep[:-1] = rows[:-1] != rows[1:]
        rows, polys = rows[keep], polys[keep]
    return rows.astype(np.int64), polys
