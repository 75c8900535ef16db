"""Unit tests for the vendored geometry kernel (no Spark needed).

Brute-force oracles per SURVEY.md §5.2: numpy/looped reimplementations
validate PIP, covers, clip areas; hypothesis pins boundary semantics."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from europe_gis_spark.geo import cells, geom, index, proj, wkb

SQUARE = [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])]
# concave "L" polygon
LPOLY = [
    np.array(
        [[0.0, 0.0], [6.0, 0.0], [6.0, 2.0], [2.0, 2.0], [2.0, 6.0], [0.0, 6.0], [0.0, 0.0]]
    )
]
DONUT = [
    np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]),
    np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]),
]


def test_wkb_roundtrip_polygon():
    buf = wkb.encode_polygon(DONUT)
    g = wkb.decode(buf)
    assert g.kind == wkb.WKB_POLYGON
    assert len(g.parts) == 2
    np.testing.assert_allclose(g.parts[0], DONUT[0])
    np.testing.assert_allclose(g.parts[1], DONUT[1])


def test_wkb_roundtrip_multipolygon_and_point():
    buf = wkb.encode_multipolygon([SQUARE, LPOLY])
    g = wkb.decode(buf)
    assert g.kind == wkb.WKB_MULTIPOLYGON
    assert len(wkb.polygon_parts(g)) == 2
    p = wkb.decode(wkb.encode_point(3.5, -2.25))
    np.testing.assert_allclose(p.parts[0], [[3.5, -2.25]])


def test_pip_square_interior_exterior_boundary():
    px = np.array([2.0, 5.0, 0.0, 4.0, 2.0, -1.0])
    py = np.array([2.0, 2.0, 0.0, 2.0, 0.0, -1.0])
    inc = geom.points_in_polygon(px, py, [SQUARE], boundary="include")
    exc = geom.points_in_polygon(px, py, [SQUARE], boundary="exclude")
    assert inc.tolist() == [True, False, True, True, True, False]
    assert exc.tolist() == [True, False, False, False, False, False]


def test_pip_concave_and_hole():
    px = np.array([1.0, 4.0, 5.0, 5.0])
    py = np.array([1.0, 4.0, 1.0, 5.0])
    got = geom.points_in_polygon(px, py, [LPOLY], boundary="exclude")
    assert got.tolist() == [True, False, True, False]
    px = np.array([5.0, 2.0, 4.5])
    py = np.array([5.0, 2.0, 4.5])
    got = geom.points_in_polygon(px, py, [DONUT], boundary="exclude")
    assert got.tolist() == [False, True, False]  # hole interior excluded


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-12, 12, allow_nan=False, allow_infinity=False),
    st.floats(-12, 12, allow_nan=False, allow_infinity=False),
)
def test_pip_matches_matplotlib_free_oracle(x, y):
    """Crossing-number oracle written independently (scalar loop)."""

    def scalar_pip(x, y, ring):
        c = False
        for i in range(len(ring) - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            if (y1 <= y) != (y2 <= y):
                xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if x < xi:
                    c = not c
        return c

    on_b = geom.points_on_ring(np.array([x]), np.array([y]), LPOLY[0])[0]
    if on_b:  # boundary handled by separate deterministic rule
        return
    want = scalar_pip(x, y, LPOLY[0])
    got = geom.points_in_polygon(np.array([x]), np.array([y]), [LPOLY], "exclude")[0]
    assert got == want


def test_area_and_clip():
    assert geom.polygon_area([SQUARE]) == pytest.approx(16.0)
    assert geom.polygon_area([DONUT]) == pytest.approx(96.0)
    assert geom.clip_area_rect([SQUARE], 2, 2, 10, 10) == pytest.approx(4.0)
    assert geom.clip_area_rect([DONUT], 3, 3, 7, 7) == pytest.approx(12.0)
    assert geom.clip_area_rect([SQUARE], 10, 10, 20, 20) == 0.0


def test_validity():
    assert geom.is_valid_polygon([SQUARE])
    open_ring = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
    assert not geom.is_valid_polygon([[open_ring]])
    degenerate = np.array([[0, 0], [1, 1], [0, 0], [0, 0]], dtype=float)
    assert not geom.is_valid_polygon([[degenerate]])


def test_validity_rejects_self_intersection():
    """Shapely-``is_valid`` parity: a bowtie passes closure/area/finite
    checks but must be invalid. Regression for the Hypothesis-found
    sliver whose edges v0→v1 and v2→v3 properly cross — it silently
    violated clip-area additivity before ring_is_simple existed."""
    bowtie = np.array(
        [[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], dtype=float
    )
    assert not geom.is_valid_polygon([[bowtie]])
    sliver = np.array(
        [
            [1001278.77781269, 1001603.53618786],
            [999544.49822271, 998004.32288912],
            [1000311.74456586, 999609.08399156],
            [1000633.0, 999999.999367],
            [1001278.77781269, 1001603.53618786],
        ]
    )
    assert not geom.is_valid_polygon([[sliver]])
    # concave but simple stays valid
    u = np.array(
        [[0, 0], [10, 0], [10, 10], [8, 10], [8, 2], [2, 2], [2, 10],
         [0, 10], [0, 0]],
        dtype=float,
    )
    assert geom.is_valid_polygon([[u]])


def test_quad_simplicity_fast_path_matches_general():
    """The n==4 scalar fast path in ring_is_simple must agree with the
    general blocked path. Forcing the general path: subdivide each edge
    at its midpoint (same shape, 8 edges) — proper crossings and
    simplicity are preserved by subdivision."""
    rng = np.random.default_rng(0)
    for _ in range(500):
        pts = rng.uniform(-10, 10, size=(4, 2))
        quad = np.vstack([pts, pts[:1]])
        mid = (pts + np.roll(pts, -1, axis=0)) / 2
        sub = np.empty((9, 2))
        sub[0:8:2], sub[1:8:2], sub[8] = pts, mid, pts[0]
        assert geom.ring_is_simple(quad) == geom.ring_is_simple(sub)


def test_clip_area_concave_disconnected_exact():
    """Triangle-fan clip path: a U-shape whose rect intersection is two
    DISCONNECTED prongs (the case where single-pass Sutherland–Hodgman
    output degenerates to one bridged ring) must give the exact area,
    and stay additive across a splitting plane."""
    u = [
        np.array(
            [[0, 0], [10, 0], [10, 10], [8, 10], [8, 2], [2, 2], [2, 10],
             [0, 10], [0, 0]],
            dtype=float,
        )
    ]
    # prongs only: y ∈ [4, 12] → two 2×6 rectangles
    assert geom.clip_area_rect([u], 0, 4, 10, 12) == pytest.approx(24.0)
    # vertical-split additivity through the gap
    a = geom.clip_area_rect([u], 0, 0, 10, 10)
    al = geom.clip_area_rect([u], 0, 0, 5, 10)
    ar = geom.clip_area_rect([u], 5, 0, 10, 10)
    assert a == pytest.approx(geom.polygon_area([u]))
    assert al + ar == pytest.approx(a)


def test_cell_id_roundtrip_and_hierarchy():
    xs = np.array([4_321_000.0, 900_000.5, 7_400_000.0])
    ys = np.array([3_210_000.0, 900_000.5, 5_500_000.0])
    cid = cells.cell_id(xs, ys, cells.RES_DEFAULT)
    xmin, ymin, xmax, ymax = cells.cell_bounds(cid)
    assert ((xs >= xmin) & (xs < xmax)).all()
    assert ((ys >= ymin) & (ys < ymax)).all()
    par = cells.parent(cid, cells.RES_COARSE)
    assert (cells.cell_res(par) == cells.RES_COARSE).all()
    for c, p in zip(cid.tolist(), par.tolist()):
        assert int(cells.parent(np.int64(c), cells.RES_COARSE)) == p
    kids = cells.children(int(par[0]))
    assert len(kids) == 4
    assert (cells.parent(kids, cells.RES_COARSE) == par[0]).all()


def test_grid_disk_and_ring():
    c = int(cells.cell_id(4_321_000.0, 3_210_000.0, 10))
    assert len(cells.grid_disk(c, 0)) == 1
    assert len(cells.grid_disk(c, 2)) == 25
    assert len(cells.grid_ring(c, 2)) == 16
    assert c in cells.grid_disk(c, 1).tolist()
    assert c not in cells.grid_ring(c, 1).tolist()


def test_cover_polygon_exact_vs_bruteforce():
    size = cells.cell_size(20)  # 8 m cells
    # square offset so it straddles cell boundaries
    sq = [
        np.array(
            [
                [3.0 * size, 2.5 * size],
                [7.25 * size, 2.5 * size],
                [7.25 * size, 6.0 * size],
                [3.0 * size, 6.0 * size],
                [3.0 * size, 2.5 * size],
            ]
        )
    ]
    cover = set(cells.cover_polygon([sq], 20).tolist())
    # brute force: every cell in a window, exact rect-intersect test
    want = set()
    for iy in range(0, 10):
        for ix in range(0, 10):
            if geom.rect_intersects_polygon(
                ix * size, iy * size, (ix + 1) * size, (iy + 1) * size, [sq]
            ):
                want.add(int((20 << 58) | (iy << 29) | ix))
    assert cover == want
    # ix∈{2..7} (cell 2 touches the x=3·size edge), iy∈{2..6} (cell 6
    # touches the y=6·size edge) — touching counts as intersecting
    assert len(cover) == 6 * 5


def _scalar_cover(parts, res):
    """The original per-cell predicate loop — the oracle the vectorized
    cover must reproduce bit-for-bit."""
    size = cells.cell_size(res)
    out = []
    for rings in parts:
        xmin, ymin, xmax, ymax = geom.ring_bbox(rings[0])
        ix0 = max(int(np.floor(xmin / size)) - 1, 0)
        ix1 = int(np.floor(xmax / size)) + 1
        iy0 = max(int(np.floor(ymin / size)) - 1, 0)
        iy1 = int(np.floor(ymax / size)) + 1
        for iy in range(iy0, iy1 + 1):
            for ix in range(ix0, ix1 + 1):
                if geom.rect_intersects_polygon(
                    ix * size, iy * size, (ix + 1) * size, (iy + 1) * size, [rings]
                ):
                    out.append((res << 58) | (iy << 29) | ix)
    return np.unique(np.array(out, dtype=np.int64))


def test_cover_polygon_vectorized_matches_scalar_random():
    """Property: the vectorized cover is identical to the per-cell
    scalar predicate on random polygons (incl. holes and multiparts)."""
    rng = np.random.default_rng(1234)
    res = 18  # 32 m cells
    size = cells.cell_size(res)
    for trial in range(25):
        n = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.6, 6.0, n) * size
        cx0, cy0 = rng.uniform(5, 50, 2) * size
        ring = np.stack([cx0 + rad * np.cos(ang), cy0 + rad * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        parts = [[ring]]
        if trial % 3 == 0:  # add a hole
            hole = np.stack(
                [cx0 + 0.3 * rad.min() * np.cos(ang), cy0 + 0.3 * rad.min() * np.sin(ang)],
                axis=1,
            )[::-1]
            hole = np.vstack([hole, hole[:1]])
            parts = [[ring, hole]]
        if trial % 5 == 0:  # multipart
            parts = parts + [[ring + np.array([10 * size, 3 * size])]]
        if trial % 4 == 0:  # axis-aligned rect part (the fast path),
            # including exactly-on-grid edges every other time
            if trial % 8 == 0:
                x0, y0 = 12 * size, 7 * size
            else:
                x0, y0 = float(rng.uniform(5, 40)) * size, float(rng.uniform(5, 30)) * size
            w, h = float(rng.uniform(0.3, 4)) * size, float(rng.uniform(0.3, 4)) * size
            rect = np.array(
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
            )
            parts = parts + [[rect]]
        got = cells.cover_polygon(parts, res)
        want = _scalar_cover(parts, res)
        np.testing.assert_array_equal(got, want)


def test_cover_build_scales_to_lau_counts():
    """1e5 small polygons must index in seconds (the LAU-scale story) —
    the old per-cell Python loop took minutes-to-hours."""
    import time

    from europe_gis_spark.geo import index as gindex, wkb as gwkb

    rng = np.random.default_rng(7)
    size = cells.cell_size(cells.RES_DEFAULT)
    polys = []
    for i in range(100_000):
        x0 = (900 + float(rng.uniform(0, 5000))) * 1000.0
        y0 = (900 + float(rng.uniform(0, 3500))) * 1000.0
        w, h = float(rng.uniform(0.5, 3)) * size, float(rng.uniform(0.5, 3)) * size
        ring = np.array(
            [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
        )
        polys.append((f"LAU{i}", gwkb.encode_polygon([ring])))
    t0 = time.time()
    idx = gindex.build_index(polys, res=cells.RES_DEFAULT)
    dt = time.time() - t0
    assert len(idx.poly_ids) == 100_000
    assert dt < 30, f"LAU-scale index build took {dt:.1f}s"


def test_cell_id_out_of_domain_is_sentinel():
    cid = cells.cell_id(
        np.array([-5.0, 4_321_000.0, 1e12]), np.array([100.0, -0.001, 100.0]), 13
    )
    assert cid[0] == -1 and cid[1] == -1 and cid[2] == -1
    ok = cells.cell_id(np.array([4_321_000.0]), np.array([3_210_000.0]), 13)
    assert ok[0] > 0


def test_non_finite_points_map_to_sentinel_without_a_cast():
    """NaN and ±inf coordinates are the -1 cell, masked before the int64
    cast (an invalid-cast RuntimeWarning is an error here), so
    ``assign_points`` called directly, without ``_assign_batch``'s
    finite filter, assigns them nothing."""
    import warnings

    bad = [np.nan, np.inf, -np.inf]
    x = np.array(bad + [2.0] * 3 + [2.0])
    y = np.array([2.0] * 3 + bad + [2.0])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cid = cells.cell_id(x, y, 21)
        assert cid[:6].tolist() == [-1] * 6 and cid[6] == cells.cell_id(2.0, 2.0, 21)
        idx = index.build_index([("A", wkb.encode_polygon(SQUARE))], res=21)
        for match in ("last", "all"):
            rows, ords = index.assign_points(idx, x, y, match=match)
            assert rows.tolist() == [6] and ords.tolist() == [0]


def test_proj_roundtrip():
    lons = np.array([10.0, -5.2, 24.9, 10.0])
    lats = np.array([52.0, 40.1, 60.3, 35.0])
    x, y = proj.forward(lons, lats)
    assert x[0] == pytest.approx(4_321_000.0)
    assert y[0] == pytest.approx(3_210_000.0)
    lon2, lat2 = proj.inverse(x, y)
    np.testing.assert_allclose(lon2, lons, atol=1e-9)
    np.testing.assert_allclose(lat2, lats, atol=1e-9)


def test_proj_is_true_ellipsoidal_epsg3035():
    """Three pins on the ellipsoidal LAEA: (1) the published EPSG:3035
    example point (IOGP Guidance 7-2: 5°E 50°N → 3962799.45,
    2999718.85); (2) the equal-area property — the finite-difference
    Jacobian |∂(x,y)/∂(λ,φ)| equals the GRS80 surface element M·N·cosφ
    to 1e-6 relative everywhere (the old spherical approximation fails
    this at ~1e-3); (3) roundtrip over the whole European domain."""
    x, y = proj.forward(np.array([5.0]), np.array([50.0]))
    assert x[0] == pytest.approx(3962799.45, abs=0.01)
    assert y[0] == pytest.approx(2999718.85, abs=0.01)

    rng = np.random.default_rng(5)
    lon = rng.uniform(-10, 30, 500)
    lat = rng.uniform(35, 70, 500)
    h = 1e-6
    d = np.deg2rad(2 * h)
    xl1, yl1 = proj.forward(lon + h, lat)
    xl0, yl0 = proj.forward(lon - h, lat)
    xp1, yp1 = proj.forward(lon, lat + h)
    xp0, yp0 = proj.forward(lon, lat - h)
    jac = np.abs(
        (xl1 - xl0) / d * (yp1 - yp0) / d - (yl1 - yl0) / d * (xp1 - xp0) / d
    )
    phi = np.deg2rad(lat)
    s2 = 1 - proj.E2 * np.sin(phi) ** 2
    element = (
        proj.A * (1 - proj.E2) / s2**1.5 * (proj.A / np.sqrt(s2)) * np.cos(phi)
    )
    np.testing.assert_allclose(jac, element, rtol=1e-6)

    x, y = proj.forward(lon, lat)
    lon2, lat2 = proj.inverse(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-8)
    np.testing.assert_allclose(lat2, lat, atol=1e-7)


def test_index_assign_points_first_and_all():
    polys = [
        ("A", wkb.encode_polygon(SQUARE)),
        ("B", wkb.encode_polygon([SQUARE[0] + np.array([2.0, 0.0])])),  # overlaps A
        ("BAD", wkb.encode_polygon([np.array([[0, 0], [1, 1], [0, 0], [0, 0]], dtype=float)])),
    ]
    idx = index.build_index(polys, res=21)  # 4 m cells
    assert idx.poly_ids == ["A", "B"]  # invalid dropped
    px = np.array([1.0, 3.0, 5.0, 9.0])
    py = np.array([1.0, 1.0, 1.0, 1.0])
    rows, ords = index.assign_points(idx, px, py, match="all")
    pairs = {(int(r), idx.poly_ids[o]) for r, o in zip(rows, ords)}
    assert pairs == {(0, "A"), (1, "A"), (1, "B"), (2, "B")}
    # last-wins (MergeAlg.replace): B burned after A overwrites at overlap
    rows, ords = index.assign_points(idx, px, py, match="last")
    pairs = {(int(r), idx.poly_ids[o]) for r, o in zip(rows, ords)}
    assert pairs == {(0, "A"), (1, "B"), (2, "B")}
    # 'first' (lowest ordinal wins) is not a burn order the engine has
    with pytest.raises(ValueError):
        index.assign_points(idx, px, py, match="first")


def test_zero_length_edge_does_not_swallow_points():
    """A repeated consecutive vertex (common in real shapefiles) is a
    zero-length edge; it is "on" only within EPS of its vertex, so a far
    point in the polygon's cover is not assigned to it."""
    ring = np.array([[0, 0], [10, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    assert geom.is_valid_polygon([[ring]])
    px = np.array([5.0, 10.0, 10.0 + 1e-10, 11.0, 50.0, -300.0])
    py = np.array([5.0, 0.0, 0.0, 11.0, 50.0, 1000.0])
    got = geom.points_in_polygon(px, py, [[ring]])
    assert got.tolist() == [True, True, True, False, False, False]
    idx = index.build_index([("Z", wkb.encode_polygon([ring]))], res=21)  # 4 m cells
    assert int(cells.cell_id(11.0, 11.0, 21)) in idx.cell_to_polys  # in the cover
    rows, ords = index.assign_points(idx, px, py, match="all")
    assert rows.tolist() == [0, 1, 2] and ords.tolist() == [0, 0, 0]


def test_short_edge_tolerance_is_a_distance():
    """An edge of length L < 1 (a near-duplicate vertex) is "on" only
    within EPS of its line, not EPS/L: with L = 1e-12 the old bound
    reached 1 km across it. The bottom edge lies mid-cell, so the point
    1 m below it is in the polygon's cover and reaches the exact test."""
    x0, y0 = 102.0, 102.0  # 4 m cells at res 21: the edge y = 102 is mid-cell
    ring = np.array(
        [[0, 0], [10, 0], [10 + 1e-12, 0], [10, 10], [0, 10], [0, 0]], dtype=float
    ) + [x0, y0]
    assert geom.is_valid_polygon([[ring]])
    px = x0 + np.array([10.0, 10.0, 10.0, 5.0, 5.0, 10.0])
    py = y0 + np.array([-1.0, -99.0, 5.0, 0.0, -5e-10, 0.0])
    want = [False, False, True, True, True, True]
    assert geom.points_in_polygon(px, py, [[ring]]).tolist() == want
    idx = index.build_index([("S", wkb.encode_polygon([ring]))], res=21)
    assert int(cells.cell_id(px[0], py[0], 21)) in idx.cell_to_polys  # in the cover
    rows, ords = index.assign_points(idx, px, py, match="all")
    assert rows.tolist() == [2, 3, 4, 5] and ords.tolist() == [0, 0, 0, 0]


def _star(rng, cx, cy, k, r_lo, r_hi):
    """Closed ring of ``k`` vertices, star-shaped about (cx, cy) (simple,
    concave for k > 3). Angular gaps stay under 1.5·2π/k, so for k ≥ 9 the
    ring holds the disc of radius 0.86·r_lo about the centre."""
    ang = (np.arange(k) + rng.uniform(0, 0.5, k)) * (2 * np.pi / k)
    r = rng.uniform(r_lo, r_hi, k)
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _random_polygons(rng, n):
    """Overlapping polygons in a few km² of the LAEA domain: concave
    shells, shells with holes, two-part multipolygons, triangles and
    axis-aligned boxes on cell lines."""
    size = cells.cell_size(cells.RES_DEFAULT)
    x0, y0 = 4_321 * size, 3_210 * size
    out = []
    for i in range(n):
        cx, cy = x0 + rng.uniform(0, 3 * size), y0 + rng.uniform(0, 3 * size)
        kind = i % 5
        if kind == 0:
            parts = [[_star(rng, cx, cy, int(rng.integers(5, 12)), 100, 900)]]
        elif kind == 1:
            parts = [[_star(rng, cx, cy, 9, 500, 900), _star(rng, cx, cy, 6, 100, 400)]]
        elif kind == 2:
            parts = [
                [_star(rng, cx, cy, 7, 100, 300)],
                [_star(rng, cx + 1500, cy + 700, 3, 100, 300)],
            ]
        elif kind == 3:
            parts = [[_star(rng, cx, cy, 3, 50, 700)]]
        else:
            bx, by = x0 + size * rng.integers(0, 3), y0 + size * rng.integers(0, 3)
            w, h = size * rng.integers(1, 3), 0.5 * size
            parts = [[np.array([[bx, by], [bx + w, by], [bx + w, by + h], [bx, by + h], [bx, by]])]]
        out.append((f"P{i}", parts))
    return out


def _probe_points(rng, polys):
    """Vertices, edge midpoints, points a fraction or a few EPS off each
    vertex, bbox corners exactly and EPS/2 outside them, hole centres,
    uniform points, and points outside every cover or the grid."""
    eps = geom.EPS
    pts = []
    for _, parts in polys:
        for rings in parts:
            for ring in rings:
                pts.append(ring)
                pts.append((ring[:-1] + ring[1:]) / 2)
                for d in (0.5 * eps, 1.5 * eps, 4 * eps):
                    for sx, sy in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1)):
                        pts.append(ring + d * np.array([sx, sy]))
            if len(rings) > 1:
                pts.append(rings[1][:-1].mean(axis=0, keepdims=True))
        allv = np.concatenate([r for rings in parts for r in rings])
        (xmin, ymin), (xmax, ymax) = allv.min(axis=0), allv.max(axis=0)
        for d in (0.0, 0.5 * eps):
            pts.append(
                np.array([[xmin - d, ymin - d], [xmax + d, ymax + d], [xmin - d, (ymin + ymax) / 2],
                          [xmax + d, (ymin + ymax) / 2], [(xmin + xmax) / 2, ymin - d],
                          [(xmin + xmax) / 2, ymax + d]])
            )
    pts = np.concatenate(pts)
    lo, hi = pts.min(axis=0), pts.max(axis=0)
    pts = np.concatenate(
        [pts, rng.uniform(lo, hi, (3000, 2)), [[hi[0] + 1e5, hi[1]], [-5.0, -5.0], [1e12, 3e6]]]
    )
    return pts[:, 0].copy(), pts[:, 1].copy()


@pytest.mark.parametrize("seed,edge_chunk", [(1, None), (2, None), (3, 50)])
def test_flat_probe_matches_per_polygon_oracle(seed, edge_chunk, monkeypatch):
    """``assign_points`` (flat CSR + edge-table probe) equals a per-polygon
    ``geom.points_in_polygon`` loop in ordinal order, for 'last' and
    'all', including points within EPS outside a bbox (which pins the
    probe's bbox margin), and the build's bboxes equal ``geom_bbox``.
    One seed refines in many small steps, as large polygons do."""
    if edge_chunk:
        monkeypatch.setattr(index, "_EDGE_CHUNK", edge_chunk)
    rng = np.random.default_rng(seed)
    polys = _random_polygons(rng, 40)
    assert all(geom.is_valid_polygon(parts) for _, parts in polys)
    idx = index.build_index([(pid, wkb.encode_multipolygon(parts)) for pid, parts in polys])
    assert idx.poly_ids == [pid for pid, _ in polys]
    want_boxes = np.array([geom.geom_bbox(wkb.Geom(wkb.WKB_MULTIPOLYGON, p)) for _, p in polys])
    start = np.arange(len(idx.edge_ring)) + idx.edge_ring  # each edge's first vertex
    got_boxes = index._edge_bboxes(idx.verts[:, start], idx.edge_offsets)
    np.testing.assert_array_equal(got_boxes, want_boxes)

    px, py = _probe_points(rng, polys)
    hits = np.stack([geom.points_in_polygon(px, py, parts) for _, parts in polys], axis=1)
    want_rows, want_ords = np.nonzero(hits)  # row-major: by row, then ordinal
    rows, ords = index.assign_points(idx, px, py, match="all")
    np.testing.assert_array_equal(rows, want_rows)
    np.testing.assert_array_equal(ords, want_ords)

    rows, ords = index.assign_points(idx, px, py, match="last")
    want_rows = np.flatnonzero(hits.any(axis=1))
    want_ords = hits.shape[1] - 1 - np.argmax(hits[:, ::-1], axis=1)[want_rows]
    np.testing.assert_array_equal(rows, want_rows)
    np.testing.assert_array_equal(ords, want_ords)
    assert rows.dtype == np.int64 and ords.dtype == np.int32
    # the near-boundary points outside a bbox exist and some are hits
    assert (hits.sum(axis=0) > 0).all()


def test_flat_probe_degenerate_inputs():
    """Empty (rows, ordinals) or an all-None column, never an exception:
    an index of no valid polygon (empty key array), out-of-grid points
    (the -1 cell sentinel), points in cells with no candidate, zero-length
    arrays, and NaN coordinates through the batch body."""
    from europe_gis_spark.operators import geo_join

    bad = wkb.encode_polygon([np.array([[0, 0], [1, 1], [0, 0], [0, 0]], dtype=float)])
    empty = index.build_index([("BAD", bad)], res=21)
    assert empty.poly_ids == [] and empty.n_cells() == 0 and len(empty.keys) == 0
    good = index.build_index([("A", wkb.encode_polygon(SQUARE))], res=21)
    ids = np.array(good.poly_ids, dtype=object)
    out_of_grid = (np.array([-5.0, 1e12]), np.array([1.0, 1.0]))
    no_candidate = (np.array([500.0, 9.0]), np.array([500.0, 9.0]))
    nothing = (np.empty(0), np.empty(0))
    cases = [(empty, (np.array([2.0]), np.array([2.0])))]
    cases += [(idx, pts) for idx in (empty, good) for pts in (out_of_grid, no_candidate, nothing)]
    for idx, (px, py) in cases:
        for match in ("last", "all"):
            rows, ords = index.assign_points(idx, px, py, match=match)
            assert len(rows) == 0 and len(ords) == 0
            assert rows.dtype == np.int64 and ords.dtype == np.int32
    # each row has a NaN coordinate; (2, 2) would be inside A
    x = np.array([np.nan, 2.0, np.nan])
    y = np.array([2.0, np.nan, np.nan])
    assert geo_join._assign_batch(good, ids, x, y).tolist() == [None, None, None]
    rows, pids = geo_join._assign_batch(good, ids, x, y, match="all")
    assert len(rows) == 0 and len(pids) == 0
    assert geo_join._assign_batch(good, ids, *nothing).tolist() == []


def test_index_surface_read_by_size_reports():
    """The index pickles (it is broadcast), and its size surface agrees
    with the CSR arrays: n_cells, the cell_to_polys view and poly_ids."""
    import pickle

    rng = np.random.default_rng(4)
    polys = _random_polygons(rng, 30)
    idx = index.build_index([(pid, wkb.encode_multipolygon(parts)) for pid, parts in polys])
    back = pickle.loads(pickle.dumps(idx))
    assert back.poly_ids == idx.poly_ids and back.res == idx.res
    for name in ("keys", "offsets", "ords", "boxes", "verts", "edge_ring", "edge_offsets", "ring_is_hole"):
        np.testing.assert_array_equal(getattr(back, name), getattr(idx, name))
    covers = [cells.cover_polygon(parts, idx.res) for _, parts in polys]
    assert idx.n_cells() == len(np.unique(np.concatenate(covers)))
    view = idx.cell_to_polys
    assert sum(len(v) for v in view.values()) == len(idx.ords) == sum(len(c) for c in covers)
    for p, cover in enumerate(covers):
        assert all(p in view[int(c)] for c in cover)
    assert isinstance(idx.poly_ids, list)


# ----------------------------------------------------------- simplification
def test_simplify_ring_drops_collinear_and_respects_tol():
    from europe_gis_spark.geo.geom import simplify_ring

    # a square with collinear midpoints and one tol-sized bump
    ring = np.array(
        [
            [0, 0], [5, 0], [10, 0],          # collinear bottom
            [10, 5], [10, 10],                # collinear right
            [5, 10.4],                        # 0.4 bump on the top edge
            [0, 10], [0, 5], [0, 0],
        ],
        dtype=float,
    )
    s0 = simplify_ring(ring, 0.0)
    # tol=0: only exactly-collinear vertices go; the bump stays
    assert [tuple(p) for p in s0] == [
        (0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.0, 10.4), (0.0, 10.0), (0.0, 0.0)
    ]
    s1 = simplify_ring(ring, 0.5)
    # tol=0.5 swallows the 0.4 bump → pure square
    assert [tuple(p) for p in s1] == [
        (0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)
    ]
    # closed, and vertices are a subset of the originals
    orig = {tuple(p) for p in ring}
    for s in (s0, s1):
        assert tuple(s[0]) == tuple(s[-1])
        assert {tuple(p) for p in s} <= orig


def test_simplify_polygon_deviation_bound_random():
    """Every dropped vertex lies within tol of the simplified boundary
    (the DP guarantee), checked brute-force on jittered circles."""
    from europe_gis_spark.geo.geom import simplify_polygon

    rng = np.random.default_rng(7)
    for trial in range(5):
        n = 120
        th = np.linspace(0, 2 * np.pi, n, endpoint=False)
        r = 100 + rng.normal(0, 1.5, n)
        ring = np.column_stack([r * np.cos(th), r * np.sin(th)])
        ring = np.vstack([ring, ring[:1]])
        tol = 3.0
        (simp,) = simplify_polygon([[ring]], tol)
        s = simp[0]
        assert len(s) < len(ring)
        # brute-force distance of every original vertex to the simplified
        # boundary
        for p in ring[:-1]:
            d = np.inf
            for a, b in zip(s[:-1], s[1:]):
                seg = b - a
                l2 = seg @ seg
                t = 0.0 if l2 == 0 else np.clip((p - a) @ seg / l2, 0, 1)
                d = min(d, float(np.hypot(*(p - (a + t * seg)))))
            assert d <= tol + 1e-9


def test_simplify_geoms_operator(spark):
    from europe_gis_spark.geo import wkb as gwkb
    from europe_gis_spark.geo.geom import polygon_area
    from europe_gis_spark.operators import layers as L

    # staircase square: many collinear/step vertices, area 100
    pts = [(0, 0), (4, 0), (8, 0), (10, 0), (10, 4), (10, 10),
           (6, 10), (0, 10), (0, 6), (0, 3), (0, 0)]
    ring = np.array(pts, dtype=float)
    hole = np.array([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)], dtype=float)
    df = spark.createDataFrame(
        [(1, bytearray(gwkb.encode_polygon([ring, hole])))],
        "gid long, wkb binary",
    )
    out = L.simplify_geoms(df, geom_col="wkb", tol=0.0).collect()
    assert len(out) == 1
    row = out[0]
    g = gwkb.decode(bytes(row.wkb))
    parts = gwkb.polygon_parts(g)
    # area exactly preserved at tol=0 (only collinear vertices dropped)
    assert abs(polygon_area(parts) - 96.0) < 1e-9
    assert row.n_vertices_out < row.n_vertices_in
    assert len(parts[0]) == 2  # hole survives


def test_polygon_centroid_holes_and_orientation():
    """Shoelace first-moment centroid: square with centered hole keeps
    the center; off-center hole shifts AWAY from the hole; winding
    orientation of either ring does not matter; annulus matches the
    exact rational."""
    import numpy as np

    from europe_gis_spark.geo import geom

    sq = np.array([(0, 0), (10, 0), (10, 10), (0, 10)], dtype=float)
    hole = np.array([(4, 4), (6, 4), (6, 6), (4, 6)], dtype=float)
    cx, cy = geom.polygon_centroid([[sq, hole]])
    assert (cx, cy) == (5.0, 5.0)
    # reversed windings — same result
    cx2, cy2 = geom.polygon_centroid([[sq[::-1].copy(), hole[::-1].copy()]])
    assert (cx2, cy2) == (5.0, 5.0)
    # off-center hole at (1..3)^2: mass removed lower-left, centroid
    # moves up-right of (5,5); exact value (100*5 - 4*2)/96
    hole2 = np.array([(1, 1), (3, 1), (3, 3), (1, 3)], dtype=float)
    cx3, cy3 = geom.polygon_centroid([[sq, hole2]])
    want = (100 * 5.0 - 4 * 2.0) / 96.0
    assert cx3 == want and cy3 == want
    # multi-part: two unit squares far apart -> midpoint
    a = np.array([(0, 0), (1, 0), (1, 1), (0, 1)], dtype=float)
    b = np.array([(10, 10), (11, 10), (11, 11), (10, 11)], dtype=float)
    cx4, cy4 = geom.polygon_centroid([[a], [b]])
    assert (cx4, cy4) == (5.5, 5.5)
