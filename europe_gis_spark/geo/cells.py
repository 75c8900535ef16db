"""Hierarchical planar grid cells — the engine's H3/S2 stand-in.

The reference tiles rasters 1000×1000 px as its unit of storage,
parallelism and indexing (``raster2pgsql -t 1000x1000 -s 3035``,
``/root/reference/scripts/old_files/echo/dem.bat:1``, GiST index ``-I``).
The engine generalizes that into a power-of-two hierarchy over the planar
CRS: at resolution ``r`` a cell is a square of side ``BASE_SIZE / 2**r``
meters, identified by a single int64. No h3/s2 library exists in this
container; this pure-numpy grid gives the same operational properties:

  * int64 ids → plain equi-join keys / partition keys (bucketed spatial
    join, SURVEY.md §2.3 J3/J6),
  * parent/child in O(1) → adaptive cell splitting for hot cells,
  * ``grid_disk(cell, k)`` rings → kNN ring expansion (J9),
  * deterministic, byte-stable everywhere.

id layout (int64): [res:6 bits][iy:29 bits][ix:29 bits], all non-negative
for coordinates in [0, 2**29 * min_cell) — covers the EPSG:3035 domain
(x,y ∈ ~[0.9e6, 7.4e6] m) with room to spare.
"""

from __future__ import annotations

import numpy as np

from . import geom

BASE_SIZE = float(1 << 23)  # 8 388 608 m at res 0 — one cell spans Europe
MAX_RES = 23  # finest cell = 1 m

# convenient named resolutions (≈ H3 res 7 / 8 / 9 cell edge)
RES_COARSE = 12  # 2048 m
RES_DEFAULT = 13  # 1024 m  (the reference's 1000 m working resolution)
RES_FINE = 14  # 512 m

_IX_BITS = 29
_IX_MASK = (1 << _IX_BITS) - 1


def cell_size(res: int) -> float:
    return BASE_SIZE / (1 << res)


def cell_id(x, y, res: int):
    """Vectorized point → cell id. Accepts scalars or numpy arrays.

    Out-of-domain coordinates (negative ix/iy — e.g. crawl-extracted
    points far west/south of the EPSG:3035 false origin — or beyond the
    29-bit grid) map to the -1 sentinel instead of bleeding into
    adjacent bit fields and aliasing a valid cell. So do NaN and ±inf
    coordinates, masked before the int64 cast (whose result for them is
    undefined)."""
    size = cell_size(res)
    fx = np.floor(np.asarray(x, dtype=np.float64) / size)
    fy = np.floor(np.asarray(y, dtype=np.float64) / size)
    bad = ~((fx >= 0) & (fy >= 0) & (fx <= _IX_MASK) & (fy <= _IX_MASK))
    ix = np.where(bad, 0, fx).astype(np.int64)
    iy = np.where(bad, 0, fy).astype(np.int64)
    cid = (np.int64(res) << np.int64(58)) | (iy << np.int64(_IX_BITS)) | ix
    return np.where(bad, np.int64(-1), cid)


def cell_res(cid) -> np.ndarray:
    return (np.asarray(cid, dtype=np.int64) >> np.int64(58)).astype(np.int32)


def cell_xy(cid):
    """Cell id → (ix, iy, res)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid >> np.int64(58)
    ix = cid & np.int64(_IX_MASK)
    iy = (cid >> np.int64(_IX_BITS)) & np.int64(_IX_MASK)
    return ix, iy, res


def cell_bounds(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    ix, iy, res = cell_xy(cid)
    size = BASE_SIZE / (np.int64(1) << res).astype(np.float64)
    xmin = ix.astype(np.float64) * size
    ymin = iy.astype(np.float64) * size
    return xmin, ymin, xmin + size, ymin + size


def parent(cid, res: int):
    """Ancestor cell at a coarser resolution (O(1) bit shifts)."""
    ix, iy, r = cell_xy(cid)
    shift = (r - np.int64(res)).astype(np.int64)
    return (
        (np.int64(res) << np.int64(58))
        | ((iy >> shift) << np.int64(_IX_BITS))
        | (ix >> shift)
    )


def children(cid: int) -> np.ndarray:
    """The four direct children of one cell."""
    ix, iy, res = cell_xy(np.int64(cid))
    r2 = int(res) + 1
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(
                (np.int64(r2) << np.int64(58))
                | ((iy * 2 + dy) << np.int64(_IX_BITS))
                | (ix * 2 + dx)
            )
    return np.array(out, dtype=np.int64)


def grid_disk(cid: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)² block) — the
    ring-expansion primitive for kNN (SURVEY.md §2.3 J9)."""
    ix, iy, res = cell_xy(np.int64(cid))
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    nx = (ix + dx.ravel()).astype(np.int64)
    ny = (iy + dy.ravel()).astype(np.int64)
    keep = (nx >= 0) & (ny >= 0) & (nx <= _IX_MASK) & (ny <= _IX_MASK)
    return (res << np.int64(58)) | (ny[keep] << np.int64(_IX_BITS)) | nx[keep]


def grid_ring(cid: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k — built directly
    as the 8k perimeter offsets (top/bottom rows + side columns), not by
    diffing two disks (that was O(k²) per ring; kNN expansion probes
    rings up to k=128)."""
    if k == 0:
        return np.array([np.int64(cid)], dtype=np.int64)
    ix, iy, res = cell_xy(np.int64(cid))
    full = np.arange(-k, k + 1, dtype=np.int64)
    side = np.arange(-k + 1, k, dtype=np.int64)
    dx = np.concatenate([full, full, np.full(len(side), -k), np.full(len(side), k)])
    dy = np.concatenate(
        [np.full(len(full), -k), np.full(len(full), k), side, side]
    )
    nx = ix + dx
    ny = iy + dy
    keep = (nx >= 0) & (ny >= 0) & (nx <= _IX_MASK) & (ny <= _IX_MASK)
    return (res << np.int64(58)) | (ny[keep] << np.int64(_IX_BITS)) | nx[keep]


def _part_interior(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd interior test (shell minus holes) for point arrays,
    chunked to bound the (points × edges) ray-cast matrix."""
    out = np.zeros(len(px), dtype=bool)
    for s in range(0, len(px), 16384):
        e = min(s + 16384, len(px))
        inside = geom._crossings(px[s:e], py[s:e], rings[0])
        for hole in rings[1:]:
            inside &= ~geom._crossings(px[s:e], py[s:e], hole)
        out[s:e] = inside
    return out


def _edges_hit_cells(ax, ay, bx, by, cxmin, cymin, size: float) -> np.ndarray:
    """Closed segment × closed cell-rect intersection, broadcast over
    (edges, cell rows, cell cols). Same predicate as
    ``geom._segments_intersect_rect``: endpoint-in-rect OR (not
    same-side-rejected AND crossing one of the 4 rect edges)."""
    # corner offsets from segment endpoints (reused everywhere below);
    # cxmax/cymax are computed on the exact dyadic grid BEFORE the
    # subtraction so every offset rounds exactly once, matching the
    # scalar predicate bit-for-bit
    cxmax = cxmin + size
    cymax = cymin + size
    tx0 = cxmin - ax
    ty0 = cymin - ay
    tx1 = cxmax - ax
    ty1 = cymax - ay
    ux0 = cxmin - bx
    uy0 = cymin - by
    ux1 = cxmax - bx
    uy1 = cymax - by
    # endpoint-in-rect (closed)
    hit = ((tx0 <= 0) & (tx1 >= 0) & (ty0 <= 0) & (ty1 >= 0)) | (
        (ux0 <= 0) & (ux1 >= 0) & (uy0 <= 0) & (uy1 >= 0)
    )
    # same-side trivial rejection
    rej = (
        ((tx0 > 0) & (ux0 > 0))
        | ((tx1 < 0) & (ux1 < 0))
        | ((ty0 > 0) & (uy0 > 0))
        | ((ty1 < 0) & (uy1 < 0))
    )
    # side of each rect corner w.r.t. the segment line: the rect edges
    # are axis-aligned, so the generic d3*d4 straddle test collapses to
    # coordinate-offset products (signs identical to the generic form)
    dxe = bx - ax
    dye = by - ay
    s00 = dxe * ty0 - dye * tx0
    s10 = dxe * ty0 - dye * tx1
    s11 = dxe * ty1 - dye * tx1
    s01 = dxe * ty1 - dye * tx0
    cross = (
        ((s00 * s10 <= 0) & (ty0 * uy0 <= 0))  # bottom
        | ((s10 * s11 <= 0) & (tx1 * ux1 <= 0))  # right
        | ((s11 * s01 <= 0) & (ty1 * uy1 <= 0))  # top
        | ((s01 * s00 <= 0) & (tx0 * ux0 <= 0))  # left
    )
    hit |= cross & ~rej
    return hit.any(axis=0) if hit.ndim == 3 else hit


def _axis_rect_bounds(rings) -> tuple[float, float, float, float] | None:
    """If the part is a hole-free axis-aligned rectangle ring, return
    its bounds, else None. (Grid squares — the dominant cover input in
    overlay jobs — take the arithmetic fast path below.)"""
    if len(rings) != 1 or len(rings[0]) != 5:
        return None
    r = rings[0]
    for j in range(4):
        if r[j, 0] != r[j + 1, 0] and r[j, 1] != r[j + 1, 1]:
            return None  # a diagonal edge
    xmin, ymin = float(r[:, 0].min()), float(r[:, 1].min())
    xmax, ymax = float(r[:, 0].max()), float(r[:, 1].max())
    if xmax <= xmin or ymax <= ymin:
        return None
    return xmin, ymin, xmax, ymax


def cover_polygon(
    parts: list[list[np.ndarray]], res: int, max_cells: int = 250_000
) -> np.ndarray:
    """Exact conservative cell cover of a (multi)polygon at resolution
    ``res``: every cell whose CLOSED square intersects the polygon
    (boundary included). Unlike H3 polyfill's center rule this can never
    drop a covering cell (SURVEY.md §7.4 risk 5).

    Fully vectorized (no per-cell Python): a cell square intersects the
    polygon iff (a) one of its corners is strictly interior, or (b) some
    ring edge touches the closed square. (a) is one ray-cast pass over
    the corner-node grid; (b) is a per-edge segment×rect test vectorized
    over the cells of the edge's own bbox sub-grid (near-linear in edge
    count — an edge only overlaps a handful of cells). Cell sizes are
    powers of two, so every coordinate here is an exact dyadic float and
    the result is bit-identical to the per-cell scalar predicate
    (``geom.rect_intersects_polygon``), which property tests enforce.
    An index over 1e5 LAU-scale polygons builds in seconds, not hours.
    """
    size = cell_size(res)
    covers: list[np.ndarray] = []
    for rings in parts:
        rect = _axis_rect_bounds(rings)
        if rect is not None:
            # closed-rect × closed-cell overlap is pure index arithmetic
            # — identical to the generic predicate for rectangles
            rx0, ry0, rx1, ry1 = rect
            jx0 = max(int(np.ceil(rx0 / size)) - 1, 0)
            jx1 = int(np.floor(rx1 / size))
            jy0 = max(int(np.ceil(ry0 / size)) - 1, 0)
            jy1 = int(np.floor(ry1 / size))
            if (jx1 - jx0 + 1) * (jy1 - jy0 + 1) > max_cells:
                raise ValueError(
                    f"cover at res {res} would exceed {max_cells} cells; "
                    "use a coarser res for this polygon"
                )
            xs = np.arange(jx0, jx1 + 1, dtype=np.int64)
            ys = np.arange(jy0, jy1 + 1, dtype=np.int64)
            covers.append(
                (np.int64(res) << np.int64(58))
                | (ys[:, None] << np.int64(_IX_BITS))
                | xs[None, :]
            )
            covers[-1] = covers[-1].ravel()
            continue
        xmin, ymin, xmax, ymax = geom.ring_bbox(rings[0])
        # widen by one cell so boundary-touching neighbors are kept —
        # exact "closed cell rect intersects polygon" semantics, matching
        # ST_Intersects tile selection (rasterize_gpop.sql:7-8)
        ix0 = max(int(np.floor(xmin / size)) - 1, 0)
        ix1 = int(np.floor(xmax / size)) + 1
        iy0 = max(int(np.floor(ymin / size)) - 1, 0)
        iy1 = int(np.floor(ymax / size)) + 1
        nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
        if nx * ny > max_cells:
            raise ValueError(
                f"cover at res {res} would exceed {max_cells} cells; "
                "use a coarser res for this polygon"
            )
        # (a) corner strictly interior: evaluate once per grid NODE and
        # OR each node into its (up to 4) adjacent cells
        node_x = np.arange(ix0, ix1 + 2, dtype=np.float64) * size
        node_y = np.arange(iy0, iy1 + 2, dtype=np.float64) * size
        gx = np.tile(node_x, ny + 1)
        gy = np.repeat(node_y, nx + 1)
        inside = _part_interior(gx, gy, rings).reshape(ny + 1, nx + 1)
        hit = inside[:-1, :-1] | inside[:-1, 1:] | inside[1:, :-1] | inside[1:, 1:]
        # (b) ring edges: closed segment × closed cell-rect intersection
        ax = np.concatenate([r[:-1, 0] for r in rings])
        ay = np.concatenate([r[:-1, 1] for r in rings])
        bx = np.concatenate([r[1:, 0] for r in rings])
        by = np.concatenate([r[1:, 1] for r in rings])
        m = len(ax)
        if m * nx * ny <= 200_000:
            # small part: broadcast ALL edges × the full cell grid at
            # once (no per-edge Python loop — the LAU-scale fast path)
            cxmin = np.arange(ix0, ix1 + 1, dtype=np.float64)[None, None, :] * size
            cymin = np.arange(iy0, iy1 + 1, dtype=np.float64)[None, :, None] * size
            hit |= _edges_hit_cells(
                ax[:, None, None], ay[:, None, None],
                bx[:, None, None], by[:, None, None],
                cxmin, cymin, size,
            )
        else:
            # large part (country shells): per-edge sub-grid keeps the
            # working set bounded — an edge only overlaps a few cells
            for j in range(m):
                exmin, exmax = (ax[j], bx[j]) if ax[j] <= bx[j] else (bx[j], ax[j])
                eymin, eymax = (ay[j], by[j]) if ay[j] <= by[j] else (by[j], ay[j])
                # cells whose closed rect overlaps the edge bbox (closed)
                jx0 = max(int(np.ceil(exmin / size)) - 1, ix0)
                jx1 = min(int(np.floor(exmax / size)), ix1)
                jy0 = max(int(np.ceil(eymin / size)) - 1, iy0)
                jy1 = min(int(np.floor(eymax / size)), iy1)
                if jx0 > jx1 or jy0 > jy1:
                    continue
                cxmin = np.arange(jx0, jx1 + 1, dtype=np.float64)[None, None, :] * size
                cymin = np.arange(jy0, jy1 + 1, dtype=np.float64)[None, :, None] * size
                ehit = _edges_hit_cells(
                    ax[j], ay[j], bx[j], by[j], cxmin, cymin, size
                )
                hit[jy0 - iy0 : jy1 - iy0 + 1, jx0 - ix0 : jx1 - ix0 + 1] |= ehit
        ys, xs = np.nonzero(hit)
        covers.append(
            (np.int64(res) << np.int64(58))
            | ((ys.astype(np.int64) + iy0) << np.int64(_IX_BITS))
            | (xs.astype(np.int64) + ix0)
        )
    if not covers:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(covers))
