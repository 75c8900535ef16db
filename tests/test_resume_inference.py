"""Crash-resume idempotence (north rule: 'resumes idempotently
mid-run') and the batched-inference write-back pipeline (W4 + P9)."""

import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from europe_gis_spark.checkpoint import lineage
from europe_gis_spark.datagen import geodata
from europe_gis_spark.operators import windows, zonal


class Boom(Exception):
    pass


def test_resume_after_midrun_crash(spark, tmp_path):
    """Kill the job after some units are fully processed+checkpointed;
    the rerun must process exactly the remaining units and the final
    output must equal a never-crashed run's output."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    units = spark.range(0, 10).select(F.col("id").alias("unit_id"))

    # first wave: only units 0-5 are "reachable" before the crash —
    # simulate by running with a truncated unit list, then crashing
    lineage.run_with_checkpoint(
        spark,
        units.filter("unit_id < 6"),
        lambda p: p.withColumn("payload", F.col("unit_id") * 10),
        out,
        ckpt,
        "runX",
    )
    # crash happens here (nothing else written)

    # resume with the FULL unit list: only 6-9 may be processed
    seen = []

    def process(pend):
        seen.append(sorted(r.unit_id for r in pend.select("unit_id").collect()))
        return pend.withColumn("payload", F.col("unit_id") * 10)

    n = lineage.run_with_checkpoint(spark, units, process, out, ckpt, "runX")
    assert n == 4
    assert seen == [[6, 7, 8, 9]]

    got = {
        (r.unit_id, r.payload) for r in spark.read.parquet(out).collect()
    }
    assert got == {(i, i * 10) for i in range(10)}
    # rerunning again is a no-op (idempotent)
    assert lineage.run_with_checkpoint(spark, units, process, out, ckpt, "runX") == 0


def test_corrupt_checkpoint_part_raises(spark, tmp_path):
    """A corrupt part file in the checkpoint table must fail the resume,
    not read as "no unit done" (which redoes every unit and appends to
    the broken table)."""
    ckpt = tmp_path / "ckpt"
    done = spark.range(3, numPartitions=1).select(
        F.col("id").alias("unit_id"), F.lit(1).alias("row_count")
    )
    lineage.write_checkpoint(spark, done, str(ckpt), "runK")
    (part,) = ckpt.glob("part-*.parquet")
    part.write_bytes(part.read_bytes()[:16])  # a torn write
    with pytest.raises(Py4JJavaError):
        lineage.completed_units(spark, str(ckpt), "runK").collect()


def test_uncommitted_first_checkpoint_reads_as_empty(spark, tmp_path):
    """A first checkpoint write killed before its commit leaves only
    ``_temporary/``: no unit is done, and the resume runs them all."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "_temporary" / "0").mkdir(parents=True)
    assert lineage.completed_units(spark, str(ckpt), "runT").collect() == []


def test_checkpoint_compaction_preserves_resume(spark, tmp_path):
    """Growth hygiene: per-wave appends accumulate small files; above
    the threshold run_with_checkpoint compacts the table in place, and
    the completed-unit set (= resume behavior) is byte-identical."""
    import glob

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    fn = lambda p: p.withColumn("payload", F.col("unit_id") * 10)
    # 6 waves of appends, no compaction (threshold high)
    for wave in range(6):
        units = spark.range(wave * 4, wave * 4 + 4).select(
            F.col("id").alias("unit_id")
        )
        lineage.run_with_checkpoint(
            spark, units, fn, out, ckpt, "runC", compact_above_files=10_000
        )
    n_before = len(glob.glob(f"{ckpt}/**/*.parquet", recursive=True))
    done_before = sorted(
        r.unit_id for r in lineage.completed_units(spark, ckpt, "runC").collect()
    )
    assert done_before == list(range(24))
    # direct call above threshold compacts; completed set unchanged
    assert lineage.compact_checkpoint(spark, ckpt, max_files=4) > 0
    n_after = len(glob.glob(f"{ckpt}/**/*.parquet", recursive=True))
    assert n_after < n_before
    done_after = sorted(
        r.unit_id for r in lineage.completed_units(spark, ckpt, "runC").collect()
    )
    assert done_after == done_before
    # below threshold: no-op
    assert lineage.compact_checkpoint(spark, ckpt, max_files=10_000) == 0
    # resume over the compacted table: everything done → 0 units, and a
    # default run_with_checkpoint call (threshold 64) triggers its own
    # in-line compaction path without disturbing semantics
    all_units = spark.range(0, 24).select(F.col("id").alias("unit_id"))
    assert (
        lineage.run_with_checkpoint(spark, all_units, fn, out, ckpt, "runC") == 0
    )
    got = {(r.unit_id, r.payload) for r in spark.read.parquet(out).collect()}
    assert got == {(i, i * 10) for i in range(24)}


def test_reprocessing_unit_overwrites_not_duplicates(spark, tmp_path):
    """A unit reprocessed under a new run id overwrites its own output
    partition (dynamic partition overwrite) — no duplicate rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    units = spark.range(0, 4).select(F.col("id").alias("unit_id"))
    fn = lambda p: p.withColumn("payload", F.col("unit_id") * 10)
    lineage.run_with_checkpoint(spark, units, fn, out, ckpt, "run1")
    lineage.run_with_checkpoint(spark, units, fn, out, ckpt, "run2")  # full redo
    assert spark.read.parquet(out).count() == 4


def test_inference_writeback_pipeline(spark, tmp_path):
    """W4 batched inference + P9 prediction-mask filter + raster sink:
    the model-serving dataflow (model_prediction.py:33-108) end-to-end
    on the fixture tiles."""
    tiles = spark.createDataFrame(geodata.raster_tiles())
    patches = windows.extract_patches(
        tiles.filter("layer = 'dem'"), tile_w=16, win=3
    ).filter("valid")

    # "model": mean of the patch (stand-in for model.predict)
    pred = windows.batched_inference(patches, lambda m: m.mean(axis=1))
    # P9: zero out prediction where the base layer is invalid
    masked = pred.withColumn(
        "pred", F.when(F.col("label") > -1000.0, F.col("pred")).otherwise(0.0)
    )
    out = str(tmp_path / "pred")
    masked.select("i", "j", "pred").write.parquet(out)
    got = spark.read.parquet(out)
    n = got.count()
    assert n == patches.count()
    # numeric spot-check: pred == mean(patch)
    row = masked.limit(1).collect()[0]
    assert row.pred == pytest.approx(float(np.mean(row.patch)), rel=1e-6)
