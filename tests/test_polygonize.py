"""Connected-region polygonize (F9, features.shapes semantics) vs a
whole-raster BFS oracle: region count, sizes, values and bboxes must
match exactly — including regions spanning tile boundaries."""

import numpy as np
import pandas as pd

from europe_gis_spark.operators import layers

TILE_W = 16


def _bfs_regions(a: np.ndarray):
    """scipy-free flood fill over the FULL raster — the oracle."""
    h, w = a.shape
    seen = np.zeros(a.shape, dtype=bool)
    out = []
    for i in range(h):
        for j in range(w):
            if seen[i, j]:
                continue
            v = a[i, j]
            stack = [(i, j)]
            seen[i, j] = True
            px = []
            while stack:
                y, x = stack.pop()
                px.append((y, x))
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    ny, nx = y + dy, x + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and a[ny, nx] == v:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            ys = [p[0] for p in px]
            xs = [p[1] for p in px]
            out.append((float(v), len(px), min(ys), min(xs), max(ys), max(xs)))
    return sorted(out)


def _to_tiles(a: np.ndarray, layer: str = "lc") -> pd.DataFrame:
    h, w = a.shape
    rows = []
    for tr in range(h // TILE_W):
        for tc in range(w // TILE_W):
            block = a[tr * TILE_W : (tr + 1) * TILE_W, tc * TILE_W : (tc + 1) * TILE_W]
            rows.append(
                {
                    "layer": layer,
                    "tile_row": tr,
                    "tile_col": tc,
                    "x0": float(tc * TILE_W),
                    "y0": float(tr * TILE_W),
                    "cell_size": 1.0,
                    "tile": block.ravel().astype(np.float32).tolist(),
                }
            )
    return pd.DataFrame(rows)


def _run(spark, a: np.ndarray):
    got = layers.polygonize_regions(
        spark.createDataFrame(_to_tiles(a)), tile_w=TILE_W
    ).collect()
    return sorted((r.value, r.n_px, r.ymin, r.xmin, r.ymax, r.xmax) for r in got)


def test_regions_match_bfs_random(spark):
    rng = np.random.default_rng(99)
    a = rng.integers(0, 3, size=(48, 48)).astype(np.float32)
    assert _run(spark, a) == _bfs_regions(a)


def test_regions_cross_tile_plus_shape(spark):
    """A plus-shape spanning all four tile boundaries must come back as
    ONE region row (the old rectangle decomposition emitted many)."""
    a = np.zeros((32, 32), dtype=np.float32)
    a[14:18, :] = 7.0  # horizontal bar across the vertical tile boundary
    a[:, 14:18] = 7.0  # vertical bar across the horizontal boundary
    got = _run(spark, a)
    want = _bfs_regions(a)
    assert got == want
    sevens = [r for r in got if r[0] == 7.0]
    assert len(sevens) == 1
    assert sevens[0][1] == int((a == 7.0).sum())
    assert sevens[0][2:] == (0, 0, 31, 31)


def test_regions_checkerboard_no_false_merges(spark):
    """4-connectivity: diagonal touches must NOT merge; a 2x2-block
    checkerboard over 4 tiles yields one region per block."""
    base = np.indices((16, 16)).sum(axis=0) % 2
    a = np.kron(base, np.ones((2, 2))).astype(np.float32)  # 32x32
    got = _run(spark, a)
    want = _bfs_regions(a)
    assert got == want
    assert len(got) == 16 * 16  # every 2x2 block separate


def test_merge_paths_identical(spark):
    """Driver union-find and distributed star connected components must
    produce IDENTICAL region ids (distributed_threshold=0 forces the
    connected-components path)."""
    rng = np.random.default_rng(5)
    a = rng.integers(0, 2, size=(48, 48)).astype(np.float32)
    tiles = spark.createDataFrame(_to_tiles(a))
    drv = layers.polygonize_regions(tiles, tile_w=TILE_W)
    dst = layers.polygonize_regions(tiles, tile_w=TILE_W, distributed_threshold=0)
    rows_d = sorted(map(tuple, drv.collect()))
    rows_x = sorted(map(tuple, dst.collect()))
    assert rows_d == rows_x


def _decode_area(wkb_bytes: bytes) -> float:
    from europe_gis_spark.geo import geom, wkb

    return geom.polygon_area(wkb.polygon_parts(wkb.decode(wkb_bytes)))


def test_region_geometries_area_invariant_random(spark):
    """features.shapes parity: every region's decoded POLYGON area must
    equal its pixel count (cell_size=1), and the (value, n_px) multiset
    must match the BFS oracle."""
    rng = np.random.default_rng(17)
    a = rng.integers(0, 3, size=(48, 48)).astype(np.float32)
    got = layers.region_geometries(
        spark.createDataFrame(_to_tiles(a)), tile_w=TILE_W
    ).collect()
    want = _bfs_regions(a)
    assert sorted((r.value, r.n_px) for r in got) == sorted(
        (v, n) for v, n, *_ in want
    )
    for r in got:
        assert _decode_area(r.wkb) == r.n_px, f"region {r.region_id}"


def test_region_geometries_hole(spark):
    """An annulus region must come back as ONE polygon with an interior
    hole ring whose area is subtracted."""
    from europe_gis_spark.geo import wkb as gwkb

    a = np.zeros((32, 32), dtype=np.float32)
    a[8:24, 8:24] = 7.0
    a[12:20, 12:20] = 0.0  # hole (reconnects to nothing: annulus)
    got = layers.region_geometries(
        spark.createDataFrame(_to_tiles(a)), tile_w=TILE_W
    ).collect()
    ann = [r for r in got if r.value == 7.0]
    assert len(ann) == 1
    n_ann = int((a == 7.0).sum())
    assert ann[0].n_px == n_ann
    parts = gwkb.polygon_parts(gwkb.decode(ann[0].wkb))
    assert len(parts) == 1 and len(parts[0]) == 2  # outer + 1 hole
    assert _decode_area(ann[0].wkb) == n_ann
    # the enclosed zero block is a separate region from the background
    zeros = sorted(r.n_px for r in got if r.value == 0.0)
    assert zeros == [8 * 8, 32 * 32 - 16 * 16]
    for r in got:
        assert _decode_area(r.wkb) == r.n_px


def _greedy_rects(mask: np.ndarray):
    """Greedy row-run rectangle decomposition of a boolean mask — the
    same scheme the tile UDF uses, replicated for kernel-level tests."""
    h, w = mask.shape
    used = np.zeros_like(mask)
    out = []
    for i in range(h):
        j = 0
        while j < w:
            if used[i, j] or not mask[i, j]:
                j += 1
                continue
            j2 = j
            while j2 + 1 < w and mask[i, j2 + 1] and not used[i, j2 + 1]:
                j2 += 1
            i2 = i
            while i2 + 1 < h and np.all(mask[i2 + 1, j : j2 + 1] & ~used[i2 + 1, j : j2 + 1]):
                i2 += 1
            used[i : i2 + 1, j : j2 + 1] = True
            out.append((i, j, i2, j2))
            j = j2 + 1
    return out


def test_rects_to_polygon_property_random_masks():
    """Hypothesis-style property over random pixel blobs: for every
    4-connected component, the traced polygon's decoded area equals the
    component's pixel count (holes subtracted), with exactly one outer
    ring — pinches, holes and concavities included."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from europe_gis_spark.geo import geom, wkb

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 2**63 - 1))
    def run(seed):
        rng = np.random.default_rng(seed)
        mask = rng.random((10, 10)) < rng.uniform(0.25, 0.75)
        # label 4-connected components of the mask
        lab = layers._label_tile(
            np.where(mask, 1.0, 0.0).astype(np.float32), 10
        )
        for lid in np.unique(lab[mask]):
            m = (lab == lid) & mask
            rects = _greedy_rects(m)
            wkb_bytes, n_px = layers._rects_to_polygon(rects)
            assert n_px == int(m.sum())
            parts = wkb.polygon_parts(wkb.decode(wkb_bytes))
            assert len(parts) == 1
            assert geom.polygon_area(parts) == n_px
            for ring in parts[0]:  # every ring SIMPLE (right-first rule)
                pts = [tuple(p) for p in ring[:-1]]
                assert len(pts) == len(set(pts))

    run()


def test_rects_to_polygon_pinch_vertex():
    """Degree-4 boundary vertex (region touches itself diagonally while
    enclosing a hole): the left-turn rule must split the walk into
    simple rings — one outer + one hole meeting at the pinch — never a
    self-crossing figure-eight. Region: C-shape {(0,1),(0,2),(0,3),
    (1,1),(1,3),(2,2),(2,3)} pinching at the corner between (1,1) and
    (2,2) with (1,2) enclosed as a hole."""
    from europe_gis_spark.geo import geom, wkb

    mask = np.zeros((4, 5), dtype=bool)
    for y, x in [(0, 1), (0, 2), (0, 3), (1, 1), (1, 3), (2, 2), (2, 3)]:
        mask[y, x] = True
    # sanity: 4-connected single region with a diagonal self-touch
    lab = layers._label_tile(np.where(mask, 1.0, 0.0).astype(np.float32), 4)
    # (pad mask to square for _label_tile's tile_w contract)
    sq = np.zeros((5, 5), dtype=np.float32)
    sq[:4, :5] = np.where(mask, 1.0, 0.0)
    lab = layers._label_tile(sq, 5)
    region_labels = np.unique(lab[:4][mask])
    assert len(region_labels) == 1
    rects = _greedy_rects(mask)
    wkb_bytes, n_px = layers._rects_to_polygon(rects)
    assert n_px == 7
    parts = wkb.polygon_parts(wkb.decode(wkb_bytes))
    assert len(parts) == 1
    rings = parts[0]
    # every traced ring is SIMPLE: no repeated vertex except the closure
    for r in rings:
        pts = [tuple(p) for p in r[:-1]]
        assert len(pts) == len(set(pts)), rings
    assert geom.polygon_area(parts) == 7


def test_region_geometries_match_polygonize_regions(spark):
    """Geometry rows must agree with polygonize_regions per region_id
    on (value, n_px) — same labeling, same cross-tile merge."""
    rng = np.random.default_rng(23)
    a = rng.integers(0, 2, size=(32, 48)).astype(np.float32)
    tiles = spark.createDataFrame(_to_tiles(a))
    geoms = {
        r.region_id: (r.value, r.n_px)
        for r in layers.region_geometries(tiles, tile_w=TILE_W).collect()
    }
    regs = {
        r.region_id: (r.value, r.n_px)
        for r in layers.polygonize_regions(tiles, tile_w=TILE_W).collect()
    }
    assert geoms == regs


def test_rects_to_polygon_decomposition_invariant():
    """The traced boundary is an edge-cancellation fixed point of the
    REGION, not of its rectangle decomposition: greedy maximal rects
    and naive row-run rects must yield BIT-IDENTICAL WKB — the property
    the region_geoms_simplified driver oracle's independent row-run
    decomposition relies on."""
    rng = np.random.default_rng(42)
    for _ in range(40):
        mask = rng.random((12, 12)) < rng.uniform(0.3, 0.7)
        lab = layers._label_tile(np.where(mask, 1.0, 0.0).astype(np.float32), 12)
        for lid in np.unique(lab[mask]):
            m = (lab == lid) & mask
            greedy = _greedy_rects(m)
            runs = []
            for yy in range(m.shape[0]):
                xs = np.nonzero(m[yy])[0]
                if len(xs) == 0:
                    continue
                splits = np.nonzero(np.diff(xs) > 1)[0]
                starts = np.concatenate([[0], splits + 1])
                ends = np.concatenate([splits, [len(xs) - 1]])
                for s_, e_ in zip(starts, ends):
                    runs.append((yy, int(xs[s_]), yy, int(xs[e_])))
            wkb_g, n_g = layers._rects_to_polygon(greedy)
            wkb_r, n_r = layers._rects_to_polygon(runs)
            assert n_g == n_r == int(m.sum())
            assert wkb_g == wkb_r
