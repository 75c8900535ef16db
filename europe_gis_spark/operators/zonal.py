"""Zonal / raster aggregations (SURVEY.md §2.4) as pure DataFrame ops.

Covers the reference's raster algebra with built-in aggregations only —
whole-stage-codegen column expressions, partial+final hash aggregation,
zero Python in the hot path:

  * G2 average-downsample — the 25 m→1000 m GRA_Average resample
    (``/root/reference/src/data_engineering/raster_processor.py:96-98``)
  * G3 overlap counting / border detect — rasterize replace+add and
    ``a[a>2]=1; a[a==2]=0`` (``raster_processor.py:154-188``;
    ``scripts/jobs/dataset_creation.py:243-247``)
  * G4 "replace" LAST-wins per pixel — later burns overwrite
    (``raster_processor.py:167-175``)
  * G5 area-weighted zonal sum — areal interpolation
    (``scripts/jobs/process_raster_layer.py:398-432``)
  * G1/G8 bbox & min/max statistics; F1–F5 elementwise recodes
    (``scripts/jobs/dataset_creation.py:230-266``)

Long-form cell tables ``(layer, y, x, value)`` are the relational raster
model; tiled tables explode to long form via ``posexplode`` and cells
assemble into tiles via ``map_from_entries`` + ``transform``, both
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tiles_to_cells(tiles: DataFrame, tile_w: int = 16) -> DataFrame:
    """Tiled table (FIXTURES.md §5) → long cell table (layer, y, x, value)
    with world coordinates. posexplode is JVM-side — no Python."""
    e = tiles.select(
        "layer",
        "tile_row",
        "tile_col",
        "x0",
        "y0",
        "cell_size",
        F.posexplode("tile").alias("pos", "value"),
    )
    return e.select(
        "layer",
        (F.col("tile_row") * tile_w + (F.col("pos") / tile_w).cast("int")).alias("y"),
        (F.col("tile_col") * tile_w + F.col("pos") % tile_w).alias("x"),
        (F.col("x0") + (F.col("pos") % tile_w) * F.col("cell_size")).alias("wx"),
        (F.col("y0") + (F.col("pos") / tile_w).cast("int") * F.col("cell_size")).alias("wy"),
        "value",
    )


def cells_to_tiles(
    cells: DataFrame, tile_w: int = 16, fill: float = -1000.0
) -> DataFrame:
    """Inverse tiler (S11 ingest shape): long (layer, y, x, value) rows →
    row-major tile arrays, grouped by (layer, tile_row, tile_col).

    The groupBy is the one shuffle of the ingest job (the distributed
    analogue of ``raster2pgsql -t 1000x1000``, echo/dem.bat:1); each
    tile is assembled JVM-side as a slot → value map read back slot by
    slot, ``fill`` where no cell landed. Tiles are floor-divided, so a
    negative x or y lands in tile −1, … and ``tiles_to_cells`` inverts
    every cell. A slot given two values raises (Spark's
    DUPLICATED_MAP_KEY) instead of keeping an arbitrary one; a NULL
    value becomes NaN, as it would through pandas.
    """
    y, x = F.col("y"), F.col("x")
    slot = F.pmod(y, tile_w) * tile_w + F.pmod(x, tile_w)
    value = F.coalesce(F.col("value").cast("float"), F.lit(float("nan")).cast("float"))
    slots = (
        cells.groupBy(
            "layer",
            F.floor(y / tile_w).cast("int").alias("tile_row"),
            F.floor(x / tile_w).cast("int").alias("tile_col"),
        )
        .agg(F.map_from_entries(F.collect_list(F.struct(slot, value))).alias("m"))
    )
    return slots.select(
        "layer",
        "tile_row",
        "tile_col",
        F.transform(
            F.sequence(F.lit(0), F.lit(tile_w * tile_w - 1)),
            lambda i: F.coalesce(F.col("m")[i], F.lit(fill).cast("float")),
        ).alias("tile"),
    )


def per_tile_union(pairs: DataFrame) -> DataFrame:
    """G10: per-tile aggregate union — the GROUP BY rid ST_Union shape
    (rasterize_gpop.sql:3-9): collapse multi-burn rows per tile pixel."""
    return pairs.groupBy("tile_row", "tile_col").agg(
        F.count("*").alias("n_burns"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


def avg_downsample(cells: DataFrame, factor: int, value_col: str = "value") -> DataFrame:
    """G2: re-bin pixels by an integer factor with mean aggregation,
    ignoring bad/nodata pixels (GRA_Average semantics)."""
    return (
        cells.filter(F.col(value_col) > -1000.0)
        .groupBy(
            "layer",
            (F.col("y") / factor).cast("int").alias("yb"),
            (F.col("x") / factor).cast("int").alias("xb"),
        )
        .agg(F.avg(value_col).alias("avg_value"), F.count("*").alias("n_px"))
    )


def minmax_normalize(cells: DataFrame, bad_value: float = -1000.0) -> DataFrame:
    """G8+F5: min-max scale valid pixels to [0, 255] uint8-style, via a
    scalar-subquery-free window-less two-pass plan: aggregate per layer
    then broadcast-join the two scalars back (the reference computes
    min/max then normalizes, dataset_creation.py:256-261)."""
    stats = (
        cells.filter(F.col("value") > bad_value)
        .groupBy("layer")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    return (
        cells.join(F.broadcast(stats), "layer")
        .withColumn(
            "norm",
            F.when(
                F.col("value") <= bad_value, F.lit(0)
            ).otherwise(
                F.floor(
                    255.999
                    * (F.col("value") - F.col("vmin"))
                    / F.when(
                        F.col("vmax") > F.col("vmin"), F.col("vmax") - F.col("vmin")
                    ).otherwise(F.lit(1.0))
                ).cast("int")
            ),
        )
        .drop("vmin", "vmax")
    )


def recode_layers(cells: DataFrame) -> DataFrame:
    """F1–F4 elementwise recodes as one chained F.when per layer —
    the loop-free form of raster_preprocessor.py:40-71."""
    v = F.col("value")
    return cells.withColumn(
        "recoded",
        F.when(F.col("layer") == "pop", F.least(F.log(F.greatest(v, F.lit(2.0))), F.lit(10.0)) / 10.0)
        .when((F.col("layer") == "dem") & (v < -999.0), F.lit(0.0))
        .when(F.col("layer") == "ww", F.when(v < 0, F.lit(0.0)).otherwise(v))
        .otherwise(v),
    )


def overlap_stats(
    pairs: DataFrame,
    key_cols=("url",),
    wins: str = "last",
    rank_col: str = "poly_rank",
) -> DataFrame:
    """G3/G4 on point×polygon multi-match pairs: per point, the covering
    count and the burn-winner assignment in one aggregation.

    ``wins='last'`` (default) keeps the LAST polygon in burn order —
    rasterio MergeAlg.replace overwrites earlier burns
    (``raster_processor.py:167-175``); ``'first'`` keeps the first.
    Burn order comes from ``rank_col``; when that column is absent the
    call FAILS rather than silently falling back to lexicographic
    poly_id (string order breaks at mixed widths: 'P9' > 'P12', which
    would misreport the winner for any real id set). border ⇔
    cover_n ≥ 2 (shared-border pixels, raster_processor.py:154-188,
    consumed at dataset_creation.py:243-247)."""
    if rank_col not in pairs.columns:
        raise ValueError(
            f"overlap_stats needs a burn-order column {rank_col!r}; "
            "lexicographic poly_id is NOT a safe ordering ('P9' > 'P12')"
        )
    if wins not in ("last", "first"):
        # a typo like 'lasts' must not silently invert the burn winner
        raise ValueError(f"wins must be 'last' or 'first', got {wins!r}")
    winner = (
        F.max_by("poly_id", F.col(rank_col))
        if wins == "last"
        else F.min_by("poly_id", F.col(rank_col))
    )
    return pairs.groupBy(*key_cols).agg(
        F.count("poly_id").alias("cover_n"),
        winner.alias("win_poly"),
        (F.count("poly_id") >= 2).alias("on_border"),
    )
