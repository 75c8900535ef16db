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


def polygon_cover_df(
    polygons_df: DataFrame,
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    burn_col: str = "burn",
    res: int = gcells.RES_DEFAULT,
) -> DataFrame:
    """Distributed cover-cell table: one row per (cover cell, polygon) —
    the shuffle-join twin of the driver-built PolyIndex, for polygon
    sets too large to broadcast (LAU 1e5+, ~600 MB decoded). Decode +
    validity + cover run inside mapInPandas; the caller supplies an
    explicit ``burn_col`` (int) because a distributed table has no
    input order — last-wins needs it stated, not implied."""
    from ..geo import geom as ggeom, wkb as gwkb

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            cells_out, pids, burns = [], [], []
            for pid, burn, buf in zip(b[id_col], b[burn_col], b[geom_col]):
                parts = gwkb.polygon_parts(gwkb.decode(bytes(buf)))
                if not ggeom.is_valid_polygon(parts):
                    continue
                cov = gcells.cover_polygon(parts, res)
                cells_out.append(cov)
                pids.extend([pid] * len(cov))
                burns.extend([burn] * len(cov))
            cell_arr = (
                np.concatenate(cells_out) if cells_out else np.empty(0, np.int64)
            )
            yield pd.DataFrame(
                {"cell": cell_arr, "poly_id": pids, "burn": burns}
            )

    return polygons_df.select(id_col, burn_col, geom_col).mapInPandas(
        fn, schema="cell long, poly_id string, burn long"
    )


def pip_join_shuffle(
    points: DataFrame,
    polygons_df: DataFrame,
    keep_cols: tuple[str, ...] = ("url",),
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    burn_col: str = "burn",
    res: int = gcells.RES_DEFAULT,
    n_salt: int = 8,
) -> DataFrame:
    """Cell-bucketed SHUFFLE spatial join — the no-broadcast scale path
    the north-star names ("cell-bucketed hash join plus exact
    point-in-polygon refinement") for when the polygon side outgrows
    the broadcast budget (ARCHITECTURE.md §2 fallback).

    Stages (3 wide ops vs the broadcast path's 1 — the documented price
    of dropping the broadcast):
      1. points gain a cell id map-side; cover table from
         :func:`polygon_cover_df`; candidate pairs via a cell-keyed
         join pinned ``shuffle_hash`` (the planner must never try to
         broadcast either corpus-scale side).
      2. exact ray-cast refine via COGROUP on (poly_id, salt):
         geometry ships ONCE per group — never duplicated per candidate
         pair — and the salt splits hot polygons (a capital-city
         polygon at crawl scale) across ``n_salt`` independent tasks.
      3. last-wins burn order (MergeAlg.replace parity with the
         broadcast path): max_by(poly_id, burn) per point, then a left
         join back so unmatched points keep poly_id = NULL.

    ``keep_cols`` must uniquely key a point row (used for the last-wins
    regroup and the NULL-fill join).
    """
    from ..geo import geom as ggeom, wkb as gwkb

    pts = points
    if "cell" not in pts.columns:

        def add_cell(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                x = b["x"].to_numpy(dtype=np.float64, na_value=np.nan)
                y = b["y"].to_numpy(dtype=np.float64, na_value=np.nan)
                out = b.copy()
                ok = np.isfinite(x) & np.isfinite(y)
                cid = np.full(len(b), -1, dtype=np.int64)
                if ok.any():
                    cid[ok] = gcells.cell_id(x[ok], y[ok], res)
                out["cell"] = cid
                yield out

        in_cols = list(keep_cols) + ["x", "y"]
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in pts.select(*in_cols).schema.fields
        ) + ", cell bigint"
        pts = pts.select(*in_cols).mapInPandas(add_cell, schema=schema)

    cover = polygon_cover_df(
        polygons_df, id_col=id_col, geom_col=geom_col, burn_col=burn_col, res=res
    )
    pairs = pts.join(cover.hint("shuffle_hash"), "cell").withColumn(
        "salt", F.pmod(F.xxhash64("x", "y"), F.lit(n_salt))
    )
    salts = pairs.sparkSession.range(n_salt).select(
        F.col("id").alias("salt")
    )
    geoms = (
        polygons_df.select(
            F.col(id_col).alias("poly_id"), F.col(geom_col).alias("geometry")
        )
        .crossJoin(F.broadcast(salts))
    )

    out_cols = list(keep_cols)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.select(*out_cols).schema.fields
    ) + ", poly_id string, burn long"

    def refine(key, cand: pd.DataFrame, geo: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {c: pd.Series(dtype=object) for c in out_cols}
            | {"poly_id": pd.Series(dtype=object), "burn": pd.Series(dtype="int64")}
        )
        if len(cand) == 0 or len(geo) == 0:
            return empty
        parts = gwkb.polygon_parts(gwkb.decode(bytes(geo["geometry"].iloc[0])))
        x = cand["x"].to_numpy(dtype=np.float64)
        y = cand["y"].to_numpy(dtype=np.float64)
        hit = ggeom.points_in_polygon(x, y, parts)
        if not hit.any():
            return empty
        got = cand.loc[hit, out_cols + ["burn"]].copy()
        got["poly_id"] = key[0]
        return got[out_cols + ["poly_id", "burn"]]

    hits = (
        pairs.groupBy("poly_id", "salt")
        .cogroup(geoms.groupBy("poly_id", "salt"))
        .applyInPandas(refine, schema=out_schema)
    )
    best = hits.groupBy(*keep_cols).agg(
        F.max_by("poly_id", "burn").alias("poly_id")
    )
    return points.select(*keep_cols, "x", "y").join(
        best, list(keep_cols), "left"
    )
