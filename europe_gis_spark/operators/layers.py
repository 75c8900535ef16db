"""Multi-layer raster algebra: align join, validation mask, map algebra,
polygonize, grid snapping (J8, W5, F9, F10, F15).

Reference semantics:
  * align = ``np.stack([a, b, c], axis=-1)`` pixel-position alignment
    (``/root/reference/scripts/jobs/dataset_creation.py:126,153,200``;
    ``src/model_serving/main.py:17-20``) → n-way equi-join on (y, x) —
    i.e. a wide table with one column per layer.
  * validation mask = 1 iff every input layer valid and output valid —
    the reference's nested per-pixel loop
    (``src/feature_engineering/raster_preprocessor.py:93-114``) becomes
    ONE loop-free column expression.
  * map algebra = arbitrary expressions over aligned columns
    (``ST_MapAlgebra``, ``scripts/old_files/sql/rasterize_gpop.sql:3-6``).
  * polygonize = constant-value regions → rectangle polygons per tile
    (``features.shapes``, ``scripts/jobs/process_raster_layer.py:99-117``)
    via greedy row-run merging inside applyInPandas (a UDTF: many rows
    out per tile).
  * grid snapping (``RoundBoundingBox``,
    ``process_raster_layer.py:75-87``) as pure column arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

BAD_VALUE = -1000.0


def align_layers(cells: DataFrame, layers: list[str]) -> DataFrame:
    """J8: long (layer, y, x, value) → wide (y, x, <layer>…) via pivot
    (single shuffle; equivalent to an n-way self-join on (y, x) but one
    pass). Missing pixels become NULL."""
    return (
        cells.filter(F.col("layer").isin(layers))
        .groupBy("y", "x")
        .pivot("layer", layers)
        .agg(F.first("value"))
    )


def validation_mask(
    wide: DataFrame, in_layers: list[str], out_layer: str, bad: float = BAD_VALUE
) -> DataFrame:
    """W5: valid ⇔ all inputs > bad AND output > -1 — loop-free form of
    raster_preprocessor.py:106-109."""
    cond = F.lit(True)
    for l in in_layers:
        cond = cond & (F.col(l) > bad)
    cond = cond & (F.col(out_layer) > -1)
    return wide.withColumn("valid_mask", F.when(cond, 1).otherwise(0))


def map_algebra(wide: DataFrame, expr: str, out_col: str = "result") -> DataFrame:
    """F15: SQL expression over aligned layer columns."""
    return wide.withColumn(out_col, F.expr(expr))


def snap_bounds(
    xmin: float, ymin: float, xmax: float, ymax: float, res: float, pad_cells: int = 0
) -> tuple[float, float, float, float]:
    """F10: modulo-snap a bbox outward to the resolution grid + padding
    (RoundBoundingBox, process_raster_layer.py:75-87)."""
    pad = pad_cells * res
    return (
        float(np.floor(xmin / res) * res - pad),
        float(np.floor(ymin / res) * res - pad),
        float(np.ceil(xmax / res) * res + pad),
        float(np.ceil(ymax / res) * res + pad),
    )


POLYGONIZE_SCHEMA = (
    "layer string, value double, wkb binary, y0 int, x0 int, height int, width int"
)


def polygonize(tiles: DataFrame, tile_w: int = 16) -> DataFrame:
    """F9: constant-value connected regions → rectangle polygons.

    Greedy maximal-rectangle decomposition per tile (row-run merge):
    every pixel belongs to exactly one emitted rectangle of equal value,
    so Σ rect areas per value == pixel count per value (tested). An
    applyInPandas UDTF — many geometry rows out per tile row in.
    """
    from ..geo import wkb as gwkb

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        layer, trow, tcol = key
        rows = []
        for t in pdf.itertuples():
            a = np.asarray(t.tile, dtype=np.float32).reshape(tile_w, tile_w)
            used = np.zeros_like(a, dtype=bool)
            for i in range(tile_w):
                j = 0
                while j < tile_w:
                    if used[i, j]:
                        j += 1
                        continue
                    v = a[i, j]
                    # extend run rightwards
                    j2 = j
                    while j2 + 1 < tile_w and not used[i, j2 + 1] and a[i, j2 + 1] == v:
                        j2 += 1
                    # extend block downwards while the whole run matches
                    i2 = i
                    while i2 + 1 < tile_w and np.all(
                        (~used[i2 + 1, j : j2 + 1]) & (a[i2 + 1, j : j2 + 1] == v)
                    ):
                        i2 += 1
                    used[i : i2 + 1, j : j2 + 1] = True
                    h, w = i2 - i + 1, j2 - j + 1
                    gx = t.x0 + j * t.cell_size
                    gy = t.y0 + i * t.cell_size
                    ring = np.array(
                        [
                            [gx, gy],
                            [gx + w * t.cell_size, gy],
                            [gx + w * t.cell_size, gy + h * t.cell_size],
                            [gx, gy + h * t.cell_size],
                            [gx, gy],
                        ]
                    )
                    rows.append(
                        (
                            layer,
                            float(v),
                            gwkb.encode_polygon([ring]),
                            int(trow * tile_w + i),
                            int(tcol * tile_w + j),
                            h,
                            w,
                        )
                    )
                    j = j2 + 1
        return pd.DataFrame(
            rows, columns=["layer", "value", "wkb", "y0", "x0", "height", "width"]
        )

    return tiles.groupBy("layer", "tile_row", "tile_col").applyInPandas(
        fn, schema=POLYGONIZE_SCHEMA
    )


# ---------------------------------------------------------------- F9 exact
# connected-region polygonize (features.shapes semantics): one row per
# 4-connected constant-value region, across tile boundaries.

_CC_SCHEMA = (
    "kind int, layer string, tile_row int, tile_col int, local_id int, "
    "value double, n_px int, ymin int, xmin int, ymax int, xmax int, "
    "vert boolean, pos int"
)

# node key for cross-tile label equivalence: zero-padded so STRING order
# equals (layer, tile_row, tile_col, local_id) tuple order — both merge
# paths (driver union-find, distributed star CC) then produce identical
# min-root region ids
_NODE_FMT = "%s|%09d|%09d|%09d"


def _label_tile(a: np.ndarray, tile_w: int) -> np.ndarray:
    """Two-pass 4-connectivity labeling of equal-value pixels (no scipy):
    row runs get provisional labels, vertical merges go through a tiny
    union-find over runs."""
    labels = np.zeros((tile_w, tile_w), dtype=np.int32)
    parent: list[int] = [0]  # 1-based labels; parent[0] unused

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nxt = 1
    for i in range(tile_w):
        j = 0
        while j < tile_w:
            j2 = j
            v = a[i, j]
            while j2 + 1 < tile_w and a[i, j2 + 1] == v:
                j2 += 1
            # labels of the row above overlapping this run with equal value
            lab = 0
            if i > 0:
                above = labels[i - 1, j : j2 + 1][a[i - 1, j : j2 + 1] == v]
                for u in np.unique(above):
                    u = find(int(u))
                    if lab == 0:
                        lab = u
                    elif u != lab:
                        parent[u] = lab  # merge
            if lab == 0:
                parent.append(nxt)
                lab = nxt
                nxt += 1
            labels[i, j : j2 + 1] = lab
            j = j2 + 1
    # path-compress to roots, then densify to 1..k
    flat = labels.ravel()
    roots = np.array([find(int(x)) for x in flat], dtype=np.int32)
    _, dense = np.unique(roots, return_inverse=True)
    return (dense + 1).astype(np.int32).reshape(tile_w, tile_w)


def _tile_cc_tagged(tiles: DataFrame, tile_w: int, with_rects: bool) -> DataFrame:
    """Per-tile two-pass CC labeling inside one ``applyInPandas``:
    kind=0 region rows, kind=1/2 boundary strips (east+south / west+
    north, meeting the neighbor's under the SAME join key), and — when
    ``with_rects`` — kind=3 greedy maximal-rectangle rows per LOCAL
    label (global pixel bounds in ymin..xmax), the building blocks for
    region geometry reconstruction."""

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        layer, trow, tcol = key
        rows = []
        for t in pdf.itertuples():
            a = np.asarray(t.tile, dtype=np.float32).reshape(tile_w, tile_w)
            lab = _label_tile(a, tile_w)
            for lid in np.unique(lab):
                m = lab == lid
                ys, xs = np.nonzero(m)
                rows.append(
                    (
                        0, layer, int(trow), int(tcol), int(lid),
                        float(a[ys[0], xs[0]]), int(m.sum()),
                        int(ys.min()), int(xs.min()), int(ys.max()), int(xs.max()),
                        None, None,
                    )
                )
            for p in range(tile_w):
                rows.append((1, layer, int(trow), int(tcol), int(lab[p, -1]),
                             float(a[p, -1]), None, None, None, None, None, True, p))
                rows.append((2, layer, int(trow), int(tcol), int(lab[p, 0]),
                             float(a[p, 0]), None, None, None, None, None, True, p))
                rows.append((1, layer, int(trow), int(tcol), int(lab[-1, p]),
                             float(a[-1, p]), None, None, None, None, None, False, p))
                rows.append((2, layer, int(trow), int(tcol), int(lab[0, p]),
                             float(a[0, p]), None, None, None, None, None, False, p))
            if with_rects:
                # greedy row-run rectangle decomposition per LABEL (a
                # run never crosses labels: equal-value contiguity IS
                # 4-connectivity within a row/block)
                used = np.zeros_like(lab, dtype=bool)
                oy, ox = trow * tile_w, tcol * tile_w
                for i in range(tile_w):
                    j = 0
                    while j < tile_w:
                        if used[i, j]:
                            j += 1
                            continue
                        lid = lab[i, j]
                        j2 = j
                        while j2 + 1 < tile_w and not used[i, j2 + 1] and lab[i, j2 + 1] == lid:
                            j2 += 1
                        i2 = i
                        while i2 + 1 < tile_w and np.all(
                            (~used[i2 + 1, j : j2 + 1]) & (lab[i2 + 1, j : j2 + 1] == lid)
                        ):
                            i2 += 1
                        used[i : i2 + 1, j : j2 + 1] = True
                        rows.append(
                            (
                                3, layer, int(trow), int(tcol), int(lid),
                                float(a[i, j]), int((i2 - i + 1) * (j2 - j + 1)),
                                oy + i, ox + j, oy + i2, ox + j2,
                                None, None,
                            )
                        )
                        j = j2 + 1
        return pd.DataFrame(
            rows,
            columns=[
                "kind", "layer", "tile_row", "tile_col", "local_id", "value",
                "n_px", "ymin", "xmin", "ymax", "xmax", "vert", "pos",
            ],
        )

    return tiles.groupBy("layer", "tile_row", "tile_col").applyInPandas(
        fn, schema=_CC_SCHEMA
    )


def _label_mapping(
    tagged: DataFrame, distributed_threshold: int = 100_000
) -> tuple[DataFrame, bool]:
    """Cross-tile label equivalences → ((node, root) mapping DataFrame,
    broadcast_ok flag); zero-padded string keys; root = min node of the
    component. ``broadcast_ok`` is True only on the driver fast path —
    the distributed mapping has the same cardinality as the boundary
    graph and must NOT be re-funneled through the driver as a broadcast.

    The boundary-pair edge list is perimeter-scale (one row per
    (tile-edge, label pair)) — tiny next to pixel count, but up to
    O(#tiles) for a region crossing every edge. Two merge paths:

      * ≤ ``distributed_threshold`` edges → collect + driver union-find
        (the small-raster fast path, same small-side-collect pattern as
        the broadcast polygon index);
      * above it → distributed large/small-star connected components,
        :func:`europe_gis_spark.operators.graph.cc_star` (O(log n)
        shuffle rounds), so a 10¹²-pixel raster never funnels its
        boundary graph through the driver.

    Both paths compute min-over-identical-string-keys, so region ids are
    IDENTICAL regardless of path (property-tested)."""
    spark = tagged.sparkSession
    lo = tagged.filter(F.col("kind") == 1).select(
        "layer", "tile_row", "tile_col", "vert", "pos", "value",
        F.col("local_id").alias("lid_a"),
    )
    hi = tagged.filter(F.col("kind") == 2).select(
        "layer",
        F.when(F.col("vert"), F.col("tile_row")).otherwise(F.col("tile_row") - 1).alias("tile_row"),
        F.when(F.col("vert"), F.col("tile_col") - 1).otherwise(F.col("tile_col")).alias("tile_col"),
        "vert", "pos", "value",
        F.col("local_id").alias("lid_b"),
    )
    edges = (
        lo.join(hi, ["layer", "tile_row", "tile_col", "vert", "pos", "value"])
        .select(
            F.format_string(
                _NODE_FMT, "layer", "tile_row", "tile_col", "lid_a"
            ).alias("a"),
            F.format_string(
                _NODE_FMT,
                "layer",
                F.when(F.col("vert"), F.col("tile_row")).otherwise(F.col("tile_row") + 1),
                F.when(F.col("vert"), F.col("tile_col") + 1).otherwise(F.col("tile_col")),
                "lid_b",
            ).alias("b"),
        )
        .distinct()
    )
    # take(threshold+1) instead of count(): early-exits the scan on huge
    # boundary graphs AND doubles as the collect for the fast path
    head = edges.take(distributed_threshold + 1)
    if len(head) > distributed_threshold:
        from .graph import cc_star

        return cc_star(edges).withColumnRenamed("component", "root"), False
    parent: dict = {}

    def find(k):
        r = k
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(k, k) != k:
            parent[k], k = r, parent[k]
        return r

    for e in head:
        ra, rb = find(e.a), find(e.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    merged = [(k, find(k)) for k in list(parent)]
    return (
        spark.createDataFrame(
            pd.DataFrame(merged, columns=["node", "root"])
            if merged
            else pd.DataFrame(
                {"node": pd.Series(dtype=str), "root": pd.Series(dtype=str)}
            ),
            schema="node string, root string",
        ),
        True,
    )


def _with_region_id(
    df: DataFrame, mapping: DataFrame, broadcast_ok: bool = True
) -> DataFrame:
    """Attach the global region_id: node key → component root (identity
    where unmerged). Broadcast only when the mapping came from the
    driver fast path (≤ threshold rows); the distributed mapping is
    boundary-graph-scale and joins by shuffle."""
    node = F.format_string(
        _NODE_FMT, "layer", "tile_row", "tile_col", "local_id"
    )
    joined = F.broadcast(mapping) if broadcast_ok else mapping
    return (
        df.withColumn("node", node)
        .join(joined, "node", "left")
        .withColumn("region_id", F.coalesce("root", "node"))
        .drop("node", "root")
    )


def polygonize_regions(
    tiles: DataFrame, tile_w: int = 16, distributed_threshold: int = 100_000
) -> DataFrame:
    """F9 with exact ``features.shapes`` region semantics
    (``scripts/jobs/process_raster_layer.py:99-117``): ONE row per
    4-connected constant-value region — including regions that span tile
    boundaries — with pixel count and bbox. For the region POLYGON
    geometry use :func:`region_geometries`.

    Plan: per-tile CC labeling in one ``applyInPandas`` (region rows and
    boundary strips share the groupBy exchange), cross-tile label
    equivalences merged driver-side below ``distributed_threshold``
    edges and via distributed star connected components above it (see
    :func:`_label_mapping`), then a broadcast mapping join + one
    partial+final hash agg.
    """
    from pyspark import StorageLevel

    tagged = _tile_cc_tagged(tiles, tile_w, with_rects=False).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mapping, bcast_ok = _label_mapping(tagged, distributed_threshold)
    regions = _with_region_id(
        tagged.filter(F.col("kind") == 0), mapping, bcast_ok
    )
    result = (
        regions.groupBy("layer", "region_id")
        .agg(
            F.first("value").alias("value"),
            F.sum("n_px").cast("long").alias("n_px"),
            F.min(F.col("tile_row") * tile_w + F.col("ymin")).alias("ymin"),
            F.min(F.col("tile_col") * tile_w + F.col("xmin")).alias("xmin"),
            F.max(F.col("tile_row") * tile_w + F.col("ymax")).alias("ymax"),
            F.max(F.col("tile_col") * tile_w + F.col("xmax")).alias("xmax"),
        )
        # region rows are tiny: materialize them eagerly so the persist
        # below can be released instead of leaking one cached dataset
        # per invocation into the session's block manager
        .localCheckpoint(eager=True)
    )
    tagged.unpersist()
    return result


# turn preference at a boundary vertex, interior-on-left orientation:
# sharpest RIGHT first. At a degree-4 saddle (the region touches itself
# diagonally) the right-first walk hugs the OUT-of-region quadrants,
# splitting the boundary into simple rings — within one 4-connected
# region, one out-quadrant is always the hole side and the other the
# outside, so right-first yields (hole ring, outer ring); left-first
# would hug the in-region quadrants and fuse them into a self-touching
# figure-eight (area still exact, simplicity lost — pinned by
# test_rects_to_polygon_pinch_vertex).
_LEFT = {(1, 0): (0, 1), (0, 1): (-1, 0), (-1, 0): (0, -1), (0, -1): (1, 0)}
_RIGHT = {v: k for k, v in _LEFT.items()}


def _trace_rings(edges: set) -> list[np.ndarray]:
    """Chain directed unit boundary edges into closed rings.

    ``edges`` is a set of ((x,y),(x,y)) unit segments oriented with the
    region interior on the LEFT (so outer rings come out with positive
    shoelace area, holes negative). Every vertex has in-degree equal to
    out-degree, so the walk always closes; collinear runs are merged.
    Deterministic: starts from the lexicographically smallest edge."""
    out: dict = {}
    for v, w in edges:
        out.setdefault(v, []).append(w)
    for v in out:
        out[v].sort()
    rings = []
    starts = sorted(out)
    for s in starts:
        while out.get(s):
            ring = [s]
            v = s
            w = out[v].pop()
            d = (w[0] - v[0], w[1] - v[1])
            while w != s:
                ring.append(w)
                cands = out.get(w)
                nxt = None
                for nd in (_RIGHT[d], d, _LEFT[d]):
                    cand = (w[0] + nd[0], w[1] + nd[1])
                    if cands and cand in cands:
                        nxt = cand
                        break
                if nxt is None:
                    raise RuntimeError("boundary walk broke — edges not closed")
                cands.remove(nxt)
                nd = (nxt[0] - w[0], nxt[1] - w[1])
                if nd == d:
                    ring.pop()  # collinear: drop the middle vertex
                v, w, d = w, nxt, nd
            # drop a trailing collinear vertex at the seam (last dir ==
            # first dir of the closed loop)
            first_d = (ring[1][0] - ring[0][0], ring[1][1] - ring[0][1]) if len(ring) > 1 else None
            if first_d is not None and d == first_d:
                ring.pop(0)
            ring.append(ring[0])
            rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def _rects_to_polygon(rects) -> tuple[bytes, int]:
    """Rectangle decomposition of one region → WKB POLYGON (outer ring +
    holes) via edge cancellation: each rect contributes its unit
    boundary segments CCW; segments shared by two rects appear in
    opposite directions and cancel, leaving exactly the region boundary.
    Work is O(total rect perimeter). Returns (wkb, n_px)."""
    from ..geo import wkb as gwkb
    from ..geo.geom import shoelace_area

    edges: set = set()

    def add(v, w):
        if (w, v) in edges:
            edges.remove((w, v))
        else:
            edges.add((v, w))

    n_px = 0
    for y0, x0, y1, x1 in rects:
        n_px += (y1 - y0 + 1) * (x1 - x0 + 1)
        xa, xb, ya, yb = x0, x1 + 1, y0, y1 + 1
        for x in range(xa, xb):
            add((x, ya), (x + 1, ya))       # bottom, +x
            add((x + 1, yb), (x, yb))       # top, −x
        for y in range(ya, yb):
            add((xb, y), (xb, y + 1))       # right, +y
            add((xa, y + 1), (xa, y))       # left, −y
    rings = _trace_rings(edges)
    outer = [r for r in rings if shoelace_area(r) > 0]
    holes = [r for r in rings if shoelace_area(r) < 0]
    if len(outer) != 1:
        raise RuntimeError(
            f"region decomposed into {len(outer)} outer rings — rects do "
            "not form one 4-connected region"
        )
    return gwkb.encode_polygon([outer[0], *holes]), n_px


REGION_GEOM_SCHEMA = (
    "layer string, region_id string, value double, n_px long, wkb binary"
)


def region_geometries(
    tiles: DataFrame, tile_w: int = 16, distributed_threshold: int = 100_000
) -> DataFrame:
    """F9 geometry output — full ``features.shapes`` parity
    (``scripts/jobs/process_raster_layer.py:99-117`` emits (geom, value)
    per region): one row per 4-connected constant-value region with its
    POLYGON geometry as WKB (outer ring + interior holes, pixel-space
    coordinates — apply the raster's affine transform downstream).

    Plan: the per-tile labeling pass additionally emits the greedy
    maximal-rectangle decomposition per local label (map-side, same
    exchange); rects get their global region id via the broadcast label
    mapping; one shuffle groups each region's rects together and the
    boundary is reconstructed by edge cancellation + interior-left ring
    tracing — O(region perimeter) work per region, so total work scales
    with boundary length, not pixel count. Caveat: a single region's
    reconstruction is one task (same per-feature granularity as
    ``features.shapes``).

    Invariant (pytest-gated): decoded polygon area == n_px · cell_area,
    and n_px matches :func:`polygonize_regions` per region id."""
    from pyspark import StorageLevel

    tagged = _tile_cc_tagged(tiles, tile_w, with_rects=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mapping, bcast_ok = _label_mapping(tagged, distributed_threshold)
    rects = _with_region_id(
        tagged.filter(F.col("kind") == 3), mapping, bcast_ok
    )

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        layer, region_id = key
        wkb_bytes, n_px = _rects_to_polygon(
            pdf[["ymin", "xmin", "ymax", "xmax"]].itertuples(index=False)
        )
        return pd.DataFrame(
            {
                "layer": [layer],
                "region_id": [region_id],
                "value": [float(pdf["value"].iloc[0])],
                "n_px": [n_px],
                "wkb": [wkb_bytes],
            }
        )

    result = rects.groupBy("layer", "region_id").applyInPandas(
        fn, schema=REGION_GEOM_SCHEMA
    ).localCheckpoint(eager=True)
    tagged.unpersist()
    return result


def simplify_geoms(
    df: DataFrame,
    geom_col: str = "wkb",
    tol: float = 1.0,
    min_hole_area: float = 0.0,
) -> DataFrame:
    """Douglas–Peucker simplification of a WKB (multi)polygon column —
    the ``ogr.Geometry.Simplify`` step the reference applies before
    publishing vector layers (vertex counts drop ~10× at raster-cell
    tolerance while the shape stays within ``tol`` of the original).

    Arrow-batched ``mapInPandas``: each batch decodes, simplifies every
    ring (vectorized point-to-segment distances), re-encodes — no
    shuffle; runs wherever the geometry rows already are. Adds
    ``n_vertices_in`` / ``n_vertices_out`` so the reduction is
    observable downstream.
    """
    from ..geo import wkb as gwkb
    from ..geo.geom import simplify_polygon

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    ) + ", n_vertices_in int, n_vertices_out int"

    def fn(batches):
        for pdf in batches:
            geoms, n_in, n_out = [], [], []
            for buf in pdf[geom_col]:
                g = gwkb.decode(bytes(buf))
                parts = gwkb.polygon_parts(g)
                simp = simplify_polygon(parts, tol, min_hole_area)
                n_in.append(sum(len(r) for rings in parts for r in rings))
                n_out.append(sum(len(r) for rings in simp for r in rings))
                if len(simp) == 1:
                    geoms.append(gwkb.encode_polygon(simp[0]))
                else:
                    geoms.append(gwkb.encode_multipolygon(simp))
            pdf = pdf.copy()
            pdf[geom_col] = geoms
            pdf["n_vertices_in"] = np.array(n_in, dtype=np.int32)
            pdf["n_vertices_out"] = np.array(n_out, dtype=np.int32)
            yield pdf

    return df.mapInPandas(fn, schema=out_schema)
