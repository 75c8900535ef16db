"""Page geo-resolution + cell-bucketed spatial join (the flagship path).

Pipeline (SURVEY.md §7.2 minimum slice):

  pages scan → coordinate extraction (meta/text regexes, JVM-side)
            → hostname-hint fallback (dict in the UDF closure, J1)
            → LAEA projection (numpy, one Arrow-batched UDF pass)
            → point-in-polygon against the broadcast PolyIndex
              (cell probe + exact ray-cast refine, J6)
            → groupBy(nuts_id).count() (G-agg)

Scale shape: the polygon side (NUTS ≈ 1.5 k, LAU ≈ 1e5) is driver-built
and broadcast once — the trillion-row page side is processed map-side
with ZERO shuffle until the final partial+final count aggregation.
Reference semantics: rasterize burns (``/root/reference/src/
data_engineering/raster_processor.py:154-188, 269-291``) and PostGIS
``ST_Intersects`` (``scripts/old_files/sql/rasterize_gpop.sql:7-8``).

The broadcast index is probed inside pandas UDFs; Spark's broadcast
machinery unpickles it once per Python worker process, not per task
(SURVEY.md §7.4 risk 6).

When the polygon side is too large to broadcast, ``pip_join_shuffle``
runs the same kernel (``_assign_batch`` over a ``PolyIndex``) as one
local join per (coarse cell, salt) group instead.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import html as hx
from ..geo import cells as gcells
from ..geo import index as gindex
from ..geo import proj


def build_polygon_index_bc(
    spark: SparkSession,
    polygons_df: DataFrame,
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    res: int = gcells.RES_DEFAULT,
):
    """Collect the (small) polygon side, build the PolyIndex on the
    driver, broadcast it. Polygon tables at NUTS/LAU scale are ≤ 1e5 rows
    (SURVEY.md §1.1.2) — collect is the intended plan, like the
    reference loading shapefiles whole (raster_processor.py:43-49)."""
    rows = polygons_df.select(id_col, geom_col).collect()
    idx = gindex.build_index([(r[0], bytes(r[1])) for r in rows], res=res)
    return spark.sparkContext.broadcast(idx)


def _assign_batch(
    idx, ids: np.ndarray, x: np.ndarray, y: np.ndarray, match: str = "last"
):
    """The one probe-and-fill body of every geo-tag batch.

    ``ids`` is ``idx.poly_ids`` as an object array (made once per task,
    not per batch). Non-finite points never reach the index. ``match='last'``
    returns the poly-id column (None where nothing covers the point);
    ``match='all'`` returns the (row, poly id) pairs of every hit."""
    ok_idx = np.nonzero(np.isfinite(x) & np.isfinite(y))[0]
    rows, ords = gindex.assign_points(idx, x[ok_idx], y[ok_idx], match=match)
    if match == "all":
        return ok_idx[rows], ids[ords]
    poly = np.full(len(x), None, dtype=object)
    poly[ok_idx[rows]] = ids[ords]
    return poly


def assign_polygons(
    resolved: DataFrame,
    idx_bc,
    match: str = "last",
    keep_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Exact point→polygon assignment via the broadcast index.

    Map-side only (no shuffle): each Arrow batch probes the index and
    emits (keep_cols…, x, y, poly_id). Points on a polygon boundary
    count as inside it. Unresolved / unmatched rows emit poly_id = NULL
    so downstream can count coverage.

    ``match='last'`` (default) = reference MergeAlg.replace burn order
    (last polygon wins, ``raster_processor.py:167-175``); ``'all'`` =
    one row per covering polygon (overlap counting, G3).
    """
    in_cols = list(keep_cols) + ["x", "y"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in resolved.select(*in_cols).schema.fields
    ) + ", poly_id string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = idx_bc.value
        ids = np.array(idx.poly_ids, dtype=object)
        for b in batches:
            out = b[in_cols]
            x = b["x"].to_numpy(dtype=np.float64, na_value=np.nan)
            y = b["y"].to_numpy(dtype=np.float64, na_value=np.nan)
            if match != "all":
                yield out.assign(poly_id=_assign_batch(idx, ids, x, y, match))
                continue
            # multi-match: one row per (point, polygon) pair, then the misses
            rows, pids = _assign_batch(idx, ids, x, y, match)
            miss = np.ones(len(b), dtype=bool)
            miss[rows] = False
            yield pd.concat(
                [out.iloc[rows].assign(poly_id=pids), out[miss].assign(poly_id=None)],
                ignore_index=True,
            )

    return resolved.mapInPandas(fn, schema=out_schema)


# Java-regex twins of extract/html.py's _GEO_META_RE / _COORD_TEXT_RE —
# the coordinate extraction is pure regex, so it runs JVM-side on the
# (lossy-UTF-8-decoded) html: the ASCII patterns match byte-for-byte
# the same set of documents (invalid sequences decode to U+FFFD, which
# the patterns cannot match through), pinned by the per-row
# hx.extract_coords oracle in the brute-force pytest and in
# bench.assignment_match_rate.
GEO_META_JAVA = (
    r'(?i)<meta\s+name="geo\.position"\s+content="\s*'
    r'(-?\d+(?:\.\d+)?)\s*;\s*(-?\d+(?:\.\d+)?)\s*"'
)
COORD_TEXT_JAVA = r"coordinates:\s*(-?\d+(?:\.\d+)?)\s*,\s*(-?\d+(?:\.\d+)?)"


def _jvm_coords(pages: DataFrame):
    """(lat, lon) columns via JVM regexp_extract — html-meta first,
    text pattern as fallback, NULL when neither matches (the exact
    decision order of hx.extract_coords)."""
    h = F.col("html").cast("string")
    mlat = F.regexp_extract(h, GEO_META_JAVA, 1)
    mlon = F.regexp_extract(h, GEO_META_JAVA, 2)
    tlat = F.regexp_extract(F.col("text"), COORD_TEXT_JAVA, 1)
    tlon = F.regexp_extract(F.col("text"), COORD_TEXT_JAVA, 2)
    lat = F.when(mlat != "", mlat.cast("double")).otherwise(
        F.when(tlat != "", tlat.cast("double"))
    )
    lon = F.when(mlat != "", mlon.cast("double")).otherwise(
        F.when(tlat != "", tlon.cast("double"))
    )
    return lat, lon


def tag_pages(
    pages: DataFrame,
    idx_bc,
    host_hints: pd.DataFrame | None = None,
    with_metrics: bool = False,
) -> DataFrame:
    """Single-pass geo-tag: extraction + projection + PIP assignment in
    ONE mapInPandas (one JVM↔Python Arrow crossing). This is the hot
    path the pages/sec metric measures.

    The coordinate regexes run JVM-side (``_jvm_coords``), so the html
    payload never crosses Arrow: the Python pass receives (url, lat,
    lon[, text]) ≈ tens of bytes per page instead of the KB-scale html,
    and only ``url`` and the tiny computed columns come back. Pages with
    no coordinates fall back to the host hint; with neither they keep
    x, y and poly_id NULL (they survive, never dropped).

    ``with_metrics=True`` additionally computes the per-page
    training-data metrics in the same pass (token count + 64-bit SimHash
    dedup fingerprint) — the fused form of the reference's one-loop
    multi-layer fill (``dataset_creation.py:58-75``): at crawl scale you
    never re-read a page payload for a second metric pass (text still
    crosses for the metrics; html still doesn't).
    """
    from .dedup import simhash_batch

    hints = {}
    if host_hints is not None and len(host_hints):
        hints = {r.host: (float(r.lat), float(r.lon)) for r in host_hints.itertuples()}

    schema = "url string, poly_id string, x double, y double"
    if with_metrics:
        schema += ", n_tokens int, simhash long"
    jlat, jlon = _jvm_coords(pages)
    cols = ["url", jlat.alias("lat"), jlon.alias("lon")]
    src = pages.select(*cols, *(["text"] if with_metrics else []))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = idx_bc.value
        ids = np.array(idx.poly_ids, dtype=object)
        for b in batches:
            lat = b["lat"].to_numpy(dtype=np.float64, na_value=np.nan)
            lon = b["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
            if hints:
                miss = np.isnan(lat)
                if miss.any():
                    hosts = hx.host_series(b["url"])
                    for i in np.nonzero(miss)[0]:
                        h = hosts.iat[i]
                        if h in hints:
                            lat[i], lon[i] = hints[h]
            x, y = proj.forward(lon, lat)
            poly = _assign_batch(idx, ids, x, y)
            out = {"url": b["url"], "poly_id": poly, "x": x, "y": y}
            if with_metrics:
                texts = b["text"].tolist()
                out["n_tokens"] = np.array(
                    [len((t or "").split()) for t in texts], dtype=np.int32
                )
                out["simhash"] = simhash_batch(texts)
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema=schema)


def pages_per_region(
    spark: SparkSession,
    pages: DataFrame,
    polygons_df: DataFrame | None = None,
    host_hints: pd.DataFrame | None = None,
    level: int | None = 3,
    res: int = gcells.RES_DEFAULT,
    idx_bc=None,
    with_metrics: bool = False,
) -> DataFrame:
    """The §7.2 flagship query: pages per containing admin region.

    Pass a prebuilt ``idx_bc`` to amortize the polygon index across jobs
    (the production shape: the index is built once per run, not per
    micro-batch)."""
    if idx_bc is None:
        polys = polygons_df
        if level is not None and "levl_code" in polygons_df.columns:
            polys = polygons_df.filter(F.col("levl_code") == level)
        idx_bc = build_polygon_index_bc(spark, polys, res=res)
    tagged = tag_pages(pages, idx_bc, host_hints=host_hints, with_metrics=with_metrics)
    return (
        tagged.groupBy("poly_id")
        .agg(F.count("*").alias("n_pages"))
        .withColumnRenamed("poly_id", "nuts_id")
        .orderBy(F.desc("n_pages"))
    )


# salts per group key: a hot cell's points split over this many groups
# (tasks), each holding the same polygons; 8 is the only count in use
_N_SALT = 8
# levels from the index cells up to the group key: at the default res 13
# a key is a 16 km cell, so an LAU-sized polygon lands in a few groups
# while each group's index stays small
_KEY_LEVELS = 4


def pip_join_shuffle(
    points: DataFrame,
    polygons_df: DataFrame,
    keep_cols: tuple[str, ...] = ("url",),
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    burn_col: str = "burn",
    res: int = gcells.RES_DEFAULT,
) -> DataFrame:
    """Cell-bucketed SHUFFLE spatial join: the no-broadcast scale path
    ("cell-bucketed hash join plus exact point-in-polygon refinement")
    for polygon sets that outgrow the broadcast budget (ARCHITECTURE.md
    §2). Same index and probe as the broadcast path, one local join per
    group instead of one global index:

      1. each point gets a group key, the ancestor ``_KEY_LEVELS`` levels
         above its res-``res`` cell, plus a salt ``pmod(xxhash64(x, y),
         _N_SALT)``; points with no cell share key -1, which no polygon has;
      2. one ``mapInPandas`` over polygon batches builds a PolyIndex per
         batch and reads each polygon's keys off its CSR cover, so the
         polygon (row: key, poly_id, burn, geometry) is replicated to every
         group its cover touches, times every salt (a broadcast
         ``range(_N_SALT)``);
      3. ``cogroup(key, salt)`` sorts a group's polygons by burn, builds
         their PolyIndex and probes the group's points with
         ``_assign_batch``. Every point is in exactly one group, and every
         polygon whose cover holds the point's cell is in that group, so
         last-wins (the highest burn, MergeAlg.replace as on the broadcast
         path) is decided there; a miss keeps poly_id NULL.

    The caller supplies ``burn_col`` (int) because a distributed table has
    no input order: last-wins needs it stated, not implied. Returns
    (keep_cols…, x, y, poly_id), one row per point.
    """
    key_res = res - _KEY_LEVELS
    in_cols = list(keep_cols) + ["x", "y"]
    pts_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in points.select(*in_cols).schema.fields
    )

    def point_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            x = b["x"].to_numpy(dtype=np.float64, na_value=np.nan)
            y = b["y"].to_numpy(dtype=np.float64, na_value=np.nan)
            cid = gcells.cell_id(x, y, res)
            ok = cid >= 0
            key = np.full(len(b), -1, dtype=np.int64)
            key[ok] = gcells.parent(cid[ok], key_res)
            yield b.assign(key=key)

    def polygon_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            geoms = [bytes(g) for g in b[geom_col]]
            idx = gindex.build_index(list(enumerate(geoms)), res=res)
            row = np.array(idx.poly_ids, dtype=np.int64)[idx.ords]
            key = gcells.parent(np.repeat(idx.keys, np.diff(idx.offsets)), key_res)
            key, row = np.unique(np.stack([key, row]), axis=1)
            yield pd.DataFrame(
                {
                    "key": key,
                    "poly_id": b[id_col].to_numpy()[row],
                    "burn": b[burn_col].to_numpy()[row],
                    "geometry": [geoms[i] for i in row],
                }
            )

    pts = (
        points.select(*in_cols)
        .mapInPandas(point_keys, schema=pts_schema + ", key bigint")
        .withColumn("salt", F.pmod(F.xxhash64("x", "y"), F.lit(_N_SALT)))
    )
    salts = points.sparkSession.range(_N_SALT).select(F.col("id").alias("salt"))
    polys = (
        polygons_df.select(id_col, burn_col, geom_col)
        .mapInPandas(
            polygon_keys,
            schema="key bigint, poly_id string, burn long, geometry binary",
        )
        .crossJoin(F.broadcast(salts))
    )

    def refine(p: pd.DataFrame, g: pd.DataFrame) -> pd.DataFrame:
        out = p[in_cols]
        if len(p) == 0 or len(g) == 0:
            return out.assign(poly_id=None)
        g = g.sort_values("burn", kind="stable")
        idx = gindex.build_index(
            list(zip(g["poly_id"], map(bytes, g["geometry"]))), res=res
        )
        ids = np.array(idx.poly_ids, dtype=object)
        x = p["x"].to_numpy(dtype=np.float64, na_value=np.nan)
        y = p["y"].to_numpy(dtype=np.float64, na_value=np.nan)
        return out.assign(poly_id=_assign_batch(idx, ids, x, y))

    return (
        pts.groupBy("key", "salt")
        .cogroup(polys.groupBy("key", "salt"))
        .applyInPandas(refine, schema=pts_schema + ", poly_id string")
    )
