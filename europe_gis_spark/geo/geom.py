"""Vectorized planar geometry predicates (numpy, no GEOS).

Replaces the reference's GDAL/shapely predicate calls:
  * point-in-polygon  — the rasterize burn tests at
    ``/root/reference/src/data_engineering/raster_processor.py:154-188``
    (``all_touched=True`` ⇒ boundary counts as covered, ``:172``) and
    ``:269-291`` (``all_touched=False`` ⇒ strict center containment,
    ``:286``), and PostGIS ``ST_Intersects``
    (``/root/reference/scripts/old_files/sql/rasterize_gpop.sql:7-8``).
  * validity          — ``features.is_valid_geom`` guards
    (``raster_processor.py:165`` et al.).
  * area / rect-clip  — areal interpolation weights
    (``/root/reference/scripts/jobs/process_raster_layer.py:398-403``).

All functions take (n,2) float64 point arrays / ring-lists from
``wkb.decode`` and return numpy bool/float arrays — this is what runs
inside Arrow-batched pandas UDFs (zero per-row Python on the Spark side).
"""

from __future__ import annotations

import numpy as np

from . import wkb

EPS = 1e-9


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


def geom_bbox(g: wkb.Geom) -> tuple[float, float, float, float]:
    bbs = [ring_bbox(rings[0]) for rings in wkb.polygon_parts(g)]
    arr = np.array(bbs)
    return (
        float(arr[:, 0].min()),
        float(arr[:, 1].min()),
        float(arr[:, 2].max()),
        float(arr[:, 3].max()),
    )


def shoelace_area(ring: np.ndarray) -> float:
    """Signed area (positive = counter-clockwise)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(parts: list[list[np.ndarray]]) -> float:
    """Unsigned area of a (multi)polygon: |shell| − |holes| per part."""
    total = 0.0
    for rings in parts:
        total += abs(shoelace_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(shoelace_area(hole))
    return total


def polygon_centroid(parts: list[list[np.ndarray]]) -> tuple[float, float]:
    """Area centroid of a (multi)polygon with holes — the shoelace
    first-moment formula, orientation-robust (each ring's sums are
    normalized by its own winding sign; holes subtract).  With integer
    vertices every accumulated term is an exact integer, so the final
    division is ONE correctly-rounded IEEE op — for rectilinear
    pixel-union polygons the result is bit-equal to the mean of the
    covered pixel centers, which is what the independent raster oracle
    states."""
    a2 = sx = sy = 0.0
    for rings in parts:
        for ri, ring in enumerate(rings):
            x, y = ring[:, 0], ring[:, 1]
            x2, y2 = np.roll(x, -1), np.roll(y, -1)
            cross = x * y2 - x2 * y
            ra2 = float(cross.sum())
            rsx = float(((x + x2) * cross).sum())
            rsy = float(((y + y2) * cross).sum())
            orient = 1.0 if ra2 >= 0 else -1.0
            role = 1.0 if ri == 0 else -1.0
            a2 += role * orient * ra2
            sx += role * orient * rsx
            sy += role * orient * rsy
    return sx / (3.0 * a2), sy / (3.0 * a2)


def _dp_keep_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for an OPEN chain (N, 2) — iterative
    stack, vectorized point-to-segment distances per split. Strict
    ``> tol`` pruning: tol=0 drops only exactly-collinear vertices."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        mid = pts[i + 1 : j]
        l2 = float(seg @ seg)
        if l2 == 0.0:
            d = np.hypot(mid[:, 0] - pts[i, 0], mid[:, 1] - pts[i, 1])
        else:
            t = np.clip((mid - pts[i]) @ seg / l2, 0.0, 1.0)
            proj = pts[i] + t[:, None] * seg
            d = np.hypot(mid[:, 0] - proj[:, 0], mid[:, 1] - proj[:, 1])
        k = int(np.argmax(d))
        if d[k] > tol:
            ki = i + 1 + k
            keep[ki] = True
            stack.append((i, ki))
            stack.append((ki, j))
    return keep


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on a CLOSED ring (first == last vertex), the
    ``ogr.Geometry.Simplify`` / ``shapely.simplify`` analogue: split at
    the vertex farthest from vertex 0 (two open chains anchored at
    genuinely extreme points — splitting at an arbitrary index can erase
    the ring's true extremes), simplify each, rejoin closed. Simplified
    vertices are a SUBSET of the originals; every dropped vertex lies
    within ``tol`` of the simplified boundary. Degenerate collapses
    (< 3 distinct vertices) fall back to the anchor triangle."""
    closed = bool(np.array_equal(ring[0], ring[-1]))
    pts = ring[:-1] if closed else ring
    if len(pts) <= 3:
        return np.vstack([pts, pts[:1]])
    far = int(np.argmax(np.hypot(pts[:, 0] - pts[0, 0], pts[:, 1] - pts[0, 1])))
    a = pts[: far + 1]
    b = np.vstack([pts[far:], pts[:1]])
    out = np.vstack(
        [a[_dp_keep_mask(a, tol)][:-1], b[_dp_keep_mask(b, tol)][:-1]]
    )
    if len(out) < 3:
        # anchor triangle: {0, far} plus any THIRD distinct index —
        # (far+1) wraps onto 0 when far is the last vertex, which would
        # collapse to a 2-point zero-area shell
        third = (far + 1) % len(pts)
        if third in (0, far):
            third = (far - 1) % len(pts)
        idx = sorted({0, far, third})
        if len(idx) < 3:  # all-coincident ring
            idx = list(range(min(3, len(pts))))
        out = pts[idx]
    return np.vstack([out, out[:1]])


def simplify_polygon(
    parts: list[list[np.ndarray]], tol: float, min_hole_area: float = 0.0
) -> list[list[np.ndarray]]:
    """Simplify every ring of a (multi)polygon; holes whose simplified
    area falls to ``min_hole_area`` or below are dropped (they carry no
    information at the chosen tolerance), shells are always kept."""
    out: list[list[np.ndarray]] = []
    for rings in parts:
        shell = simplify_ring(rings[0], tol)
        keep = [shell]
        for hole in rings[1:]:
            s = simplify_ring(hole, tol)
            if abs(shoelace_area(s)) > min_hole_area:
                keep.append(s)
        out.append(keep)
    return out


def _segs_cross_scalar(
    ax: float, ay: float, bx: float, by: float,
    cx: float, cy: float, dx: float, dy: float,
) -> bool:
    """Strict proper-crossing test for segments ab, cd (scalar twin of the
    vectorized o1*o2<0 & o3*o4<0 test below — same sign convention)."""
    ex, ey = bx - ax, by - ay
    o1 = ex * (cy - ay) - ey * (cx - ax)
    o2 = ex * (dy - ay) - ey * (dx - ax)
    fx, fy = dx - cx, dy - cy
    o3 = fx * (ay - cy) - fy * (ax - cx)
    o4 = fx * (by - cy) - fy * (bx - cx)
    return o1 * o2 < 0 and o3 * o4 < 0


def ring_is_simple(ring: np.ndarray, chunk: int = 512) -> bool:
    """True iff no two NON-adjacent edges of the closed ring properly
    cross (strict orientation-sign test, so epsilon-touching fixtures
    are not rejected; hole-vs-shell topology is out of scope).

    Both pair axes are tiled in ``chunk`` blocks (upper triangle only),
    so peak temporaries are bounded by (chunk × chunk) booleans — never
    (chunk × E), which at LAU-scale rings (E ≈ 1e5) would be ~0.4 GB a
    piece. Boundary edges are spatially local along the ring, so the
    per-block bbox reject skips almost every far-apart block pair and
    the orientation test runs only on the surviving per-pair
    bbox-overlap candidates (1-D gather, memory ∝ candidates) —
    worst-case O(E²) but near-linear on real geographies."""
    p = ring[:-1]
    n = len(p)
    if n <= 3:
        # a closed triangle's edge pairs are all ring-adjacent
        return True
    if n == 4:
        # quadrilateral: the only non-adjacent pairs are (e0,e2), (e1,e3)
        # — two scalar tests, no array temporaries (hot path: the index
        # build validates 1e5+ box-like LAU shells per job)
        x0, y0 = float(p[0, 0]), float(p[0, 1])
        x1, y1 = float(p[1, 0]), float(p[1, 1])
        x2, y2 = float(p[2, 0]), float(p[2, 1])
        x3, y3 = float(p[3, 0]), float(p[3, 1])
        return not (
            _segs_cross_scalar(x0, y0, x1, y1, x2, y2, x3, y3)
            or _segs_cross_scalar(x1, y1, x2, y2, x3, y3, x0, y0)
        )
    ax, ay = p[:, 0], p[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    exmin, exmax = np.minimum(ax, bx), np.maximum(ax, bx)
    eymin, eymax = np.minimum(ay, by), np.maximum(ay, by)
    idx = np.arange(n)
    blocks = []
    for s in range(0, n, chunk):
        b = idx[s : s + chunk]
        blocks.append(
            (
                b,
                exmin[b].min(),
                exmax[b].max(),
                eymin[b].min(),
                eymax[b].max(),
            )
        )
    for bi_pos, (i, ixmin, ixmax, iymin, iymax) in enumerate(blocks):
        for j, jxmin, jxmax, jymin, jymax in blocks[bi_pos:]:
            if jxmin > ixmax or jxmax < ixmin or jymin > iymax or jymax < iymin:
                continue
            ii, jj = i[:, None], j[None, :]
            # upper triangle only (crossing is symmetric); skip self and
            # ring-adjacent pairs (shared endpoint is legal)
            skip = (
                (jj <= ii)
                | (jj == (ii + 1) % n)
                | (jj == (ii - 1) % n)
            )
            cand = (
                ~skip
                & (exmin[ii] <= exmax[jj])
                & (exmin[jj] <= exmax[ii])
                & (eymin[ii] <= eymax[jj])
                & (eymin[jj] <= eymax[ii])
            )
            if not cand.any():
                continue
            ci, cj = np.nonzero(cand)
            ci, cj = i[ci], j[cj]
            dxi, dyi = bx[ci] - ax[ci], by[ci] - ay[ci]
            o1 = dxi * (ay[cj] - ay[ci]) - dyi * (ax[cj] - ax[ci])
            o2 = dxi * (by[cj] - ay[ci]) - dyi * (bx[cj] - ax[ci])
            dxj, dyj = bx[cj] - ax[cj], by[cj] - ay[cj]
            o3 = dxj * (ay[ci] - ay[cj]) - dyj * (ax[ci] - ax[cj])
            o4 = dxj * (by[ci] - ay[cj]) - dyj * (bx[ci] - ax[cj])
            if ((o1 * o2 < 0) & (o3 * o4 < 0)).any():
                return False
    return True


def is_valid_polygon(parts: list[list[np.ndarray]]) -> bool:
    """Validity check in the spirit of ``features.is_valid_geom`` /
    shapely ``is_valid``: every ring closed, ≥4 vertices, non-zero shell
    area, finite coords, and NO self-intersecting rings (a bowtie shell
    passes every cheaper check yet breaks area/clip contracts — found by
    Hypothesis via a clip-additivity violation)."""
    for rings in parts:
        if len(rings) == 0:
            return False
        for i, ring in enumerate(rings):
            if len(ring) < 4:
                return False
            if not np.all(np.isfinite(ring)):
                return False
            if not (ring[0] == ring[-1]).all():
                return False
            if i == 0 and abs(shoelace_area(ring)) < EPS:
                return False
            if not ring_is_simple(ring):
                return False
    return True


def edge_near(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Elementwise (numpy broadcasting): point lies on segment
    (x1, y1)–(x2, y2) within EPS: at most EPS from its line (|cross| is
    the distance times the length L, so the bound is EPS·L) and at most
    EPS·L beyond either end. A zero-length segment is near only points
    within EPS of its vertex."""
    dx, dy = x2 - x1, y2 - y1
    cross = (px - x1) * dy - (py - y1) * dx
    seg2 = dx * dx + dy * dy
    t = ((px - x1) * dx + (py - y1) * dy) / np.where(seg2 > 0, seg2, 1.0)
    near_seg = (np.abs(cross) <= EPS * np.sqrt(seg2)) & (
        t >= -EPS
    ) & (t <= 1 + EPS)
    near_vertex = (px - x1) ** 2 + (py - y1) ** 2 <= EPS * EPS
    return np.where(seg2 > 0, near_seg, near_vertex)


def edge_crossings(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Elementwise (numpy broadcasting): the ray from the point towards +x
    crosses edge (x1, y1)–(x2, y2). Half-open rule [y1,y2) makes vertices
    count once."""
    cond = (y1 <= py) != (y2 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return cond & (px < xint)


def points_on_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Boolean mask: point lies on the ring's boundary (within EPS)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    on = np.zeros(len(px), dtype=bool)
    for j in range(len(x1)):
        on |= edge_near(px, py, x1[j], y1[j], x2[j], y2[j])
    return on


def _crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast crossing parity per point for one ring (vectorized over
    points AND edges)."""
    # points (n,1) against edges (m,)
    cross = edge_crossings(
        px[:, None], py[:, None], ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    )
    return cross.sum(axis=1) % 2 == 1


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    parts: list[list[np.ndarray]],
    boundary: str = "include",
    chunk: int = 65536,
) -> np.ndarray:
    """Vectorized (multi)polygon containment for point arrays.

    boundary='include' ⇒ intersects semantics (``all_touched=True`` /
    ``ST_Intersects``); boundary='exclude' ⇒ strict interior
    (``all_touched=False`` center rule, ``raster_processor.py:286``).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    for s in range(0, len(px), chunk):
        e = min(s + chunk, len(px))
        cx, cy = px[s:e], py[s:e]
        inside = np.zeros(e - s, dtype=bool)
        onb = np.zeros(e - s, dtype=bool)
        for rings in parts:
            in_shell = _crossings(cx, cy, rings[0])
            for hole in rings[1:]:
                in_shell &= ~_crossings(cx, cy, hole)
            inside |= in_shell
            for ring in rings:
                onb |= points_on_ring(cx, cy, ring)
        if boundary == "include":
            out[s:e] = inside | onb
        else:
            out[s:e] = inside & ~onb
    return out


def _segments_intersect_rect(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> bool:
    """True if any ring edge intersects the axis-aligned rectangle
    (Cohen–Sutherland style outcode rejection + exact segment tests)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    # any endpoint inside
    in1 = (x1 >= xmin) & (x1 <= xmax) & (y1 >= ymin) & (y1 <= ymax)
    in2 = (x2 >= xmin) & (x2 <= xmax) & (y2 >= ymin) & (y2 <= ymax)
    if in1.any() or in2.any():
        return True
    # trivially rejected: both endpoints on the same outside side
    keep = ~(
        ((x1 < xmin) & (x2 < xmin))
        | ((x1 > xmax) & (x2 > xmax))
        | ((y1 < ymin) & (y2 < ymin))
        | ((y1 > ymax) & (y2 > ymax))
    )
    if not keep.any():
        return False
    # exact: does the segment cross any of the 4 rect edges?
    rx = np.array([xmin, xmax, xmax, xmin, xmin])
    ry = np.array([ymin, ymin, ymax, ymax, ymin])
    ax, ay, bx, by = x1[keep], y1[keep], x2[keep], y2[keep]
    for j in range(4):
        cxj, cyj, dxj, dyj = rx[j], ry[j], rx[j + 1], ry[j + 1]
        d1 = (bx - ax) * (cyj - ay) - (by - ay) * (cxj - ax)
        d2 = (bx - ax) * (dyj - ay) - (by - ay) * (dxj - ax)
        d3 = (dxj - cxj) * (ay - cyj) - (dyj - cyj) * (ax - cxj)
        d4 = (dxj - cxj) * (by - cyj) - (dyj - cyj) * (bx - cxj)
        hit = ((d1 * d2) <= 0) & ((d3 * d4) <= 0)
        if hit.any():
            return True
    return False


def rect_intersects_polygon(
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    parts: list[list[np.ndarray]],
) -> bool:
    """Exact rectangle×(multi)polygon intersection test — used to build
    conservative-but-tight cell covers (SURVEY.md §7.4 risk 5: polyfill
    center-rule gaps would silently drop rows; this cover cannot)."""
    for rings in parts:
        shell = rings[0]
        bxmin, bymin, bxmax, bymax = ring_bbox(shell)
        if bxmax < xmin or bxmin > xmax or bymax < ymin or bymin > ymax:
            continue
        # rect corner inside polygon part?
        cx = np.array([xmin, xmax, xmax, xmin])
        cy = np.array([ymin, ymin, ymax, ymax])
        in_shell = _crossings(cx, cy, shell)
        for hole in rings[1:]:
            in_shell &= ~_crossings(cx, cy, hole)
        if in_shell.any():
            return True
        # polygon vertex inside rect, or edge crossing rect?
        for ring in rings:
            if _segments_intersect_rect(ring, xmin, ymin, xmax, ymax):
                return True
    return False


def clip_ring_rect(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray | None:
    """Sutherland–Hodgman clip of one ring against an axis-aligned
    rectangle. Returns the CLOSED clipped ring, or None when the
    intersection is empty/degenerate (< 3 vertices)."""
    poly = ring[:-1]  # open form
    for side in range(4):
        if len(poly) == 0:
            return None
        nxt = []
        n = len(poly)
        for i in range(n):
            ax, ay = poly[i]
            bx, by = poly[(i + 1) % n]
            if side == 0:
                ina, inb = ax >= xmin, bx >= xmin
            elif side == 1:
                ina, inb = ax <= xmax, bx <= xmax
            elif side == 2:
                ina, inb = ay >= ymin, by >= ymin
            else:
                ina, inb = ay <= ymax, by <= ymax
            if ina:
                nxt.append((ax, ay))
            if ina != inb:
                if side == 0:
                    t = (xmin - ax) / (bx - ax)
                    nxt.append((xmin, ay + t * (by - ay)))
                elif side == 1:
                    t = (xmax - ax) / (bx - ax)
                    nxt.append((xmax, ay + t * (by - ay)))
                elif side == 2:
                    t = (ymin - ay) / (by - ay)
                    nxt.append((ax + t * (bx - ax), ymin))
                else:
                    t = (ymax - ay) / (by - ay)
                    nxt.append((ax + t * (bx - ax), ymax))
        poly = np.array(nxt) if nxt else np.empty((0, 2))
    if len(poly) < 3:
        return None
    return np.vstack([poly, poly[:1]])


def clip_polygon_rect(
    parts: list[list[np.ndarray]],
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> list[list[np.ndarray]]:
    """Polygon ∩ rectangle as GEOMETRY (the ``gpd.overlay(…,
    'intersection')`` output shape, ``process_raster_layer.py:398-403``):
    each part's shell and holes are clipped independently; parts whose
    shell vanishes are dropped.

    Known Sutherland–Hodgman artifact: when a CONCAVE part's
    intersection with the rect is disconnected (e.g. a U-shape whose
    prongs enter the square separately), the pieces come back as ONE
    ring connected by zero-width bridges along the clip boundary. The
    enclosed area is still exact (bridge edges cancel in the shoelace
    sum — what the area-weight path and the overlay oracle consume),
    but consumers needing a topologically valid multi-part shape must
    post-split such rings (a Weiler–Atherton clipper; out of scope
    here, tested/documented in test_popgrid_layers)."""
    out: list[list[np.ndarray]] = []
    for rings in parts:
        shell = clip_ring_rect(rings[0], xmin, ymin, xmax, ymax)
        if shell is None or abs(shoelace_area(shell)) == 0.0:
            continue
        clipped = [shell]
        for hole in rings[1:]:
            h = clip_ring_rect(hole, xmin, ymin, xmax, ymax)
            if h is not None and abs(shoelace_area(h)) > 0.0:
                clipped.append(h)
        out.append(clipped)
    return out


def ring_is_convex(ring: np.ndarray) -> bool:
    """True iff the CLOSED ring is convex (all edge cross products share
    one sign; exactly-collinear vertices allowed)."""
    pts = ring[:-1]
    e = np.roll(pts, -1, axis=0) - pts  # every edge, wrap included
    e2 = np.roll(e, -1, axis=0)
    cr = e[:, 0] * e2[:, 1] - e[:, 1] * e2[:, 0]  # every turn, wrap included
    return bool((cr >= 0).all() or (cr <= 0).all())


def _ring_clip_area(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> float:
    """EXACT unsigned area of simple-ring ∩ rect.

    Sutherland–Hodgman is provably area-exact only for a CONVEX
    subject; for concave subjects with disconnected intersections the
    single-ring output relies on bridge-edge cancellation in the
    shoelace sum. Rather than lean on that argument, convex rings take
    the single-clip fast path and concave rings use the triangle-fan
    winding decomposition from v0 — 1_ring = Σᵢ ±1_Tᵢ with
    Tᵢ = (v0, vᵢ, vᵢ₊₁) signed by orientation, so
    area(ring ∩ R) = Σᵢ sign(Tᵢ)·area(Tᵢ ∩ R), and every Tᵢ is convex
    ⇒ each S–H sub-clip is exact. (Self-intersecting rings satisfy
    neither method's contract — ``is_valid_polygon`` now rejects them;
    the fan computes their signed-winding area, the consistent
    convention.)"""
    if ring_is_convex(ring):
        clipped = clip_ring_rect(ring, xmin, ymin, xmax, ymax)
        return abs(shoelace_area(clipped)) if clipped is not None else 0.0
    ox, oy = ring[0]
    total = 0.0
    for i in range(1, len(ring) - 2):
        tri = np.array(
            [[ox, oy], ring[i], ring[i + 1], [ox, oy]], dtype=np.float64
        )
        s = shoelace_area(tri)
        if s == 0.0:
            continue
        c = clip_ring_rect(tri, xmin, ymin, xmax, ymax)
        if c is None:
            continue
        a = abs(shoelace_area(c))
        total += a if s > 0 else -a
    return abs(total)


def clip_area_rect(
    parts: list[list[np.ndarray]],
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> float:
    """Area of polygon ∩ rectangle — exact for any simple rings
    (convex: one Sutherland–Hodgman clip; concave: signed triangle-fan
    decomposition, see ``_ring_clip_area``).

    Powers the area-weighted zonal reallocation (G5/G6,
    ``process_raster_layer.py:398-403``): weight = clip_area / cell_area.
    """
    total = 0.0
    for rings in parts:
        total += _ring_clip_area(rings[0], xmin, ymin, xmax, ymax)
        for hole in rings[1:]:
            total -= _ring_clip_area(hole, xmin, ymin, xmax, ymax)
    return max(total, 0.0)


def _sh_clip_areas_batch(
    verts: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> np.ndarray:
    """Unsigned areas of P CONVEX polygons clipped against P rects, all
    vectorized (no Python loop over polygons — the loop is over the 4
    clip sides and grows the padded vertex buffer by ≤1 per side).

    ``verts``: (P, K, 2) OPEN rings (no closing vertex) padded with
    anything past each row's true count — every row here has the same
    true count K (triangles or one tiled ring), so no count array is
    needed on input."""
    p, k0, _ = verts.shape
    cnts = np.full(p, k0, dtype=np.int64)
    bounds = (x0, x1, y0, y1)
    for side in range(4):
        k = verts.shape[1]
        idx = np.arange(k)[None, :]
        valid = idx < cnts[:, None]
        x, y = verts[:, :, 0], verts[:, :, 1]
        b = bounds[side][:, None]
        coord = x if side < 2 else y
        ina = (coord >= b) if side % 2 == 0 else (coord <= b)
        nxt = (idx + 1) % np.maximum(cnts[:, None], 1)
        bx = np.take_along_axis(x, nxt, 1)
        by = np.take_along_axis(y, nxt, 1)
        bcoord = bx if side < 2 else by
        inb = (bcoord >= b) if side % 2 == 0 else (bcoord <= b)
        emit_a = ina & valid
        crossn = (ina != inb) & valid
        with np.errstate(divide="ignore", invalid="ignore"):
            if side < 2:
                t = (b - x) / (bx - x)
                ix = np.broadcast_to(b, t.shape)
                iy = y + t * (by - y)
            else:
                t = (b - y) / (by - y)
                iy = np.broadcast_to(b, t.shape)
                ix = x + t * (bx - x)
        n_emit = emit_a.astype(np.int64) + crossn.astype(np.int64)
        pos_end = np.cumsum(n_emit, axis=1)
        pos_a = pos_end - n_emit
        pos_c = pos_end - crossn.astype(np.int64)
        new_k = k + 1
        out = np.zeros((p, new_k, 2), dtype=np.float64)
        rows = np.broadcast_to(np.arange(p)[:, None], (p, k))
        out[rows[emit_a], pos_a[emit_a], 0] = x[emit_a]
        out[rows[emit_a], pos_a[emit_a], 1] = y[emit_a]
        out[rows[crossn], pos_c[crossn], 0] = ix[crossn]
        out[rows[crossn], pos_c[crossn], 1] = iy[crossn]
        cnts = pos_end[:, -1]
        verts = out
    # shoelace over the per-row valid prefix
    k = verts.shape[1]
    idx = np.arange(k)[None, :]
    valid = idx < cnts[:, None]
    x, y = verts[:, :, 0], verts[:, :, 1]
    nxt = (idx + 1) % np.maximum(cnts[:, None], 1)
    bx = np.take_along_axis(x, nxt, 1)
    by = np.take_along_axis(y, nxt, 1)
    terms = np.where(valid, x * by - bx * y, 0.0)
    areas = 0.5 * np.abs(terms.sum(axis=1))
    areas[cnts < 3] = 0.0
    return areas


def _ring_clip_areas_batch(
    ring: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> np.ndarray:
    """Exact unsigned areas of one simple ring ∩ R rects — the batched
    twin of ``_ring_clip_area`` (same convex fast path / triangle-fan
    decomposition, one numpy pass over all rects)."""
    r = len(x0)
    if ring_is_convex(ring):
        open_ring = np.asarray(ring[:-1], dtype=np.float64)
        verts = np.broadcast_to(
            open_ring[None, :, :], (r, *open_ring.shape)
        ).copy()
        return _sh_clip_areas_batch(verts, x0, y0, x1, y1)
    ox, oy = ring[0]
    v = np.asarray(ring, dtype=np.float64)
    a = v[1:-1]
    b = v[2:]
    t = len(a)
    tris = np.empty((t, 3, 2), dtype=np.float64)
    tris[:, 0, 0] = ox
    tris[:, 0, 1] = oy
    tris[:, 1] = a
    tris[:, 2] = b
    signs = np.sign(
        (a[:, 0] - ox) * (b[:, 1] - oy) - (a[:, 1] - oy) * (b[:, 0] - ox)
    )
    # (T, R) product batch: triangle j clipped against rect c — chunked
    # over the rect axis so peak memory stays O(chunk · T), not O(R · T)
    # (a 2k-vertex zone polygon against a 10k-cell Arrow batch would
    # otherwise allocate ~2e7-row float64 intermediates per clip side)
    max_rows = 200_000
    chunk = max(1, max_rows // max(t, 1))
    out = np.empty(r, dtype=np.float64)
    for s in range(0, r, chunk):
        e = min(s + chunk, r)
        rr = e - s
        verts = np.repeat(tris, rr, axis=0)
        areas = _sh_clip_areas_batch(
            verts,
            np.tile(x0[s:e], t),
            np.tile(y0[s:e], t),
            np.tile(x1[s:e], t),
            np.tile(y1[s:e], t),
        ).reshape(t, rr)
        out[s:e] = np.abs((signs[:, None] * areas).sum(axis=0))
    return out


def clip_areas_rects(
    parts: list[list[np.ndarray]],
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> np.ndarray:
    """Vectorized ``clip_area_rect``: exact areas of polygon ∩ each of R
    rects in one numpy pass — the batch kernel the G5 overlay-weight
    operators call per (polygon, Arrow-batch-of-cells) instead of a
    per-cell Python loop."""
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    total = np.zeros(len(x0), dtype=np.float64)
    for rings in parts:
        total += _ring_clip_areas_batch(rings[0], x0, y0, x1, y1)
        for hole in rings[1:]:
            total -= _ring_clip_areas_batch(hole, x0, y0, x1, y1)
    return np.clip(total, 0.0, None)
