"""The reference's three entry-point pipelines, re-expressed as lazy
Spark DAGs with per-unit lineage (SURVEY.md §3 lifecycle parity).

Where the reference crosses a process boundary at every GDAL call and
materializes files between stages (``raster_processor.py:334-341``),
each pipeline here is ONE DataFrame DAG whose only materialization
points are the final writes — stage fusion belongs to Catalyst, the
shuffles to AQE, and resume-idempotence to the lineage checkpoint table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import lineage
from .operators import geo_join, layers as L, popgrid, windows, zonal
from .session import local_frame


def process_raster_layers(
    spark: SparkSession,
    tiles: DataFrame,
    polygons: DataFrame,
    attr_csv_paths: list[str],
    grid: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str = "etl1",
    tile_w: int = 16,
) -> int:
    """Entry point 1 — the ETL of ``process_all_layers``
    (``raster_processor.py:334-341``), one checkpointed unit per layer:

      * per-layer recode + min-max normalize (F1–F5/G8), written as the
        long cell table partitioned by unit;
      * the population raster path: CSV union → attribute join →
        area-weighted zonal reallocation (U1/J1/J3/G5), written as the
        per-zone sums.

    Returns the number of units processed (0 on a clean resume)."""
    cells = zonal.tiles_to_cells(tiles, tile_w=tile_w)
    recoded = zonal.minmax_normalize(zonal.recode_layers(cells))

    layer_units = tiles.select("layer").distinct().select(
        F.abs(F.xxhash64("layer")).alias("unit_id"), "layer"
    )

    def run_layers(pending: DataFrame) -> DataFrame:
        keep = pending.select("layer", "unit_id")
        return recoded.join(F.broadcast(keep), "layer").select(
            "unit_id", "layer", "y", "x", "value", "recoded", "norm"
        )

    n = lineage.run_with_checkpoint(
        spark, layer_units, run_layers, f"{out_dir}/layers", ckpt_dir, run_id
    )

    # population raster path (one unit)
    pop_unit = local_frame(spark, [(0,)], "unit_id long")

    def run_pop(pending: DataFrame) -> DataFrame:
        attrs = popgrid.read_attr_csvs(spark, attr_csv_paths)
        joined = popgrid.attribute_join(grid, attrs)
        polys = [
            (r.nuts_id, bytes(r.geometry))
            for r in polygons.select("nuts_id", "geometry").collect()
        ]
        weights = popgrid.overlay_weights(grid, polys)
        out = popgrid.zonal_population(joined, weights)
        return out.withColumn("unit_id", F.lit(0))

    n += lineage.run_with_checkpoint(
        spark, pop_unit, run_pop, f"{out_dir}/population", ckpt_dir, run_id + "-pop"
    )
    return n


def build_training_dataset(
    spark: SparkSession,
    tiles: DataFrame,
    out_dir: str,
    label_layer: str = "pop",
    win: int = 5,
    tile_w: int = 16,
    test_frac: float = 0.2,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Entry point 2 — the feature pipeline
    (``feature_engineering/main.py:34-39``): halo-exchange patch
    extraction labeled from the label layer (W1–W3), validity filter
    (W2/P8), seeded train/test split (O4), parquet sinks. Returns the
    (train, test) DataFrames after writing."""
    # W5 semantics: a sample is usable iff the feature window is fully
    # valid AND the label pixel is valid (raster_preprocessor.py:106-109
    # checks inputs and output)
    patches = windows.extract_patches(
        tiles, tile_w=tile_w, win=win, label_layer=label_layer
    ).filter(F.col("valid") & (F.col("label") > windows.BAD_VALUE))
    train, test = windows.train_test_split(patches, test_frac=test_frac, seed=seed)
    train.write.mode("overwrite").parquet(f"{out_dir}/train")
    test.write.mode("overwrite").parquet(f"{out_dir}/test")
    return (
        spark.read.parquet(f"{out_dir}/train"),
        spark.read.parquet(f"{out_dir}/test"),
    )


def run_inference(
    spark: SparkSession,
    patches: DataFrame,
    predict_fn,
    out_dir: str,
    ckpt_dir: str,
    run_id: str = "infer1",
    pred_threshold: float | None = None,
    units: int = 8,
) -> int:
    """Entry point 3 — the serve path (``model_serving/main.py:17-25``):
    batched inference over the patch table (W4) with optional
    prediction-mask filter (P9), resumable in ``units`` deterministic
    slices (kill it mid-run and rerun: processed units are skipped)."""
    with_unit = patches.withColumn(
        "unit_id", F.pmod(F.xxhash64("i", "j"), F.lit(units))
    )
    all_units = spark.range(0, units).select(F.col("id").alias("unit_id"))

    def proc(pending: DataFrame) -> DataFrame:
        part = with_unit.join(F.broadcast(pending), "unit_id")
        scored = windows.batched_inference(part, predict_fn)
        if pred_threshold is not None:
            scored = scored.filter(F.col("pred") >= pred_threshold)
        return scored.drop("patch")

    return lineage.run_with_checkpoint(
        spark, all_units, proc, out_dir, ckpt_dir, run_id
    )
