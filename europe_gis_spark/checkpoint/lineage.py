"""Per-partition lineage + idempotent resume (the Mongo tile log,
Spark-style).

The reference checkpoints each processed raster tile as a Mongo document
``{row, column, bounds{…}, insertedUTC, files[…]}``
(``/root/reference/scripts/jobs/mongodb_scripts.py:26-48``) and restarts
by wiping a work dir (``src/data_engineering/raster_processor.py:37-39``).
The engine replaces that with a parquet/Iceberg checkpoint table keyed by
deterministic unit ids:

  * work is split into deterministic units (e.g. cell-prefix buckets);
  * each completed unit appends one lineage row
    (run_id, unit_id, bounds, row_count, files, inserted_utc);
  * resume = left_anti join of the unit list against completed units —
    already-done work is never recomputed (idempotence comes from
    deterministic unit ids + overwrite-by-unit output partitioning).

On Iceberg the append becomes ``MERGE INTO``; parquet append + anti-join
gives the same at-least-once-safe semantics because re-processing a unit
overwrites the same output partition (dynamic partition overwrite).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("unit_id", T.LongType(), False),
        T.StructField(
            "bounds",
            T.StructType(
                [
                    T.StructField("xmin", T.DoubleType(), True),
                    T.StructField("ymin", T.DoubleType(), True),
                    T.StructField("xmax", T.DoubleType(), True),
                    T.StructField("ymax", T.DoubleType(), True),
                ]
            ),
            True,
        ),
        T.StructField("row_count", T.LongType(), False),
        T.StructField(
            "files",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("raster", T.StringType(), True),
                        T.StructField("filenamepath", T.StringType(), True),
                        T.StructField("slice_id", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("inserted_utc", T.TimestampType(), False),
    ]
)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath (capability
    check — this container ships no Iceberg jars, so the MERGE INTO path
    is exercised through its SQL generation only)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def checkpoint_merge_sql(table: str, updates_view: str = "ckpt_updates") -> str:
    """The Iceberg form of the checkpoint append: an idempotent MERGE
    keyed by (run_id, unit_id) — re-checkpointing a unit after a retry
    updates its row instead of duplicating it (on parquet the same
    safety comes from append + anti-join-on-distinct)."""
    return (
        f"MERGE INTO {table} t\n"
        f"USING {updates_view} s\n"
        "ON t.run_id = s.run_id AND t.unit_id = s.unit_id\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def completed_units(
    spark: SparkSession, ckpt_path: str, run_id: str, fmt: str = "parquet"
) -> DataFrame:
    """Unit ids already checkpointed for this run (empty if no table).

    Only a missing table, path or committed part file (a first checkpoint
    write killed before its commit leaves just ``_temporary/``) means
    "nothing done yet"; any other read error, such as a corrupt part file,
    propagates, so a resume never silently redoes every unit on top of a
    broken table."""
    iceberg = fmt == "iceberg"
    try:
        df = spark.read.table(ckpt_path) if iceberg else spark.read.parquet(ckpt_path)
    except AnalysisException as e:
        empty = (
            ("TABLE_OR_VIEW_NOT_FOUND",)
            if iceberg
            else ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        )
        if e.getCondition() not in empty:
            raise
        return local_frame(spark, [], "unit_id long")
    return df.filter(F.col("run_id") == run_id).select("unit_id").distinct()


def pending_units(
    spark: SparkSession,
    all_units: DataFrame,
    ckpt_path: str,
    run_id: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Resume anti-join: units not yet completed (SURVEY.md §4 item 5)."""
    done = completed_units(spark, ckpt_path, run_id, fmt=fmt)
    return all_units.join(done, "unit_id", "left_anti")


def lineage_rows(result: DataFrame, unit_col: str = "unit_id") -> DataFrame:
    """G11: per-unit row counts + bounds from a result DataFrame —
    the metrics half of the tile document (mongodb_scripts.py:29-46)."""
    has_xy = "x" in result.columns and "y" in result.columns
    aggs = [F.count("*").alias("row_count")]
    if has_xy:
        aggs += [
            F.struct(
                F.min("x").alias("xmin"),
                F.min("y").alias("ymin"),
                F.max("x").alias("xmax"),
                F.max("y").alias("ymax"),
            ).alias("bounds")
        ]
    return result.groupBy(unit_col).agg(*aggs)


def write_checkpoint(
    spark: SparkSession,
    metrics: DataFrame,
    ckpt_path: str,
    run_id: str,
    files: list[tuple[str, str, str]] | None = None,
    fmt: str = "parquet",
) -> None:
    """Append lineage rows (one per completed unit).

    ``fmt='iceberg'`` upserts via MERGE INTO (``checkpoint_merge_sql``)
    when the Iceberg runtime is present and raises a clear capability
    error otherwise; ``'parquet'`` (default) appends."""
    cols = [
        F.lit(run_id).alias("run_id"),
        F.col("unit_id").cast("long").alias("unit_id"),
    ]
    if "bounds" in metrics.columns:
        cols.append(F.col("bounds"))
    else:
        cols.append(
            F.struct(
                F.lit(None).cast("double").alias("xmin"),
                F.lit(None).cast("double").alias("ymin"),
                F.lit(None).cast("double").alias("xmax"),
                F.lit(None).cast("double").alias("ymax"),
            ).alias("bounds")
        )
    cols.append(F.col("row_count").cast("long"))
    file_structs = [
        F.struct(
            F.lit(a).alias("raster"),
            F.lit(b).alias("filenamepath"),
            F.lit(c).alias("slice_id"),
        )
        for a, b, c in (files or [])
    ]
    cols.append(
        (F.array(*file_structs) if file_structs else F.array().cast(
            CHECKPOINT_SCHEMA["files"].dataType
        )).alias("files")
    )
    cols.append(F.current_timestamp().alias("inserted_utc"))
    rows = metrics.select(*cols)
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "fmt='iceberg' requested but the Iceberg Spark runtime is "
                "not on the classpath (iceberg_available=False)"
            )
        rows.createOrReplaceTempView("ckpt_updates")
        spark.sql(checkpoint_merge_sql(ckpt_path))
    else:
        rows.write.mode("append").parquet(ckpt_path)


def compact_checkpoint(
    spark: SparkSession,
    ckpt_path: str,
    max_files: int = 64,
    target_file_mb: int = 128,
) -> int:
    """Checkpoint-table growth hygiene: ``write_checkpoint`` appends one
    small parquet file per completed batch of units, so a 10⁶-unit run
    leaves a small-file swarm whose per-file footer cost eventually
    dominates the resume anti-join's scan. Above ``max_files`` at-rest
    files, rewrite the table via ``layout.compact_parquet`` (sized from
    actual bytes) and swap it in with two renames — the completed-unit
    SET is unchanged, so resume semantics are identical. A crash inside
    the swap window can only LOSE lineage rows (units re-run and
    overwrite their own output partitions — at-least-once safe), never
    duplicate them. Returns the new file count, or 0 if no compaction
    ran."""
    jvm_fs = spark._jvm.org.apache.hadoop.fs  # noqa: SLF001
    hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    p = jvm_fs.Path(ckpt_path)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return 0
    n_at_rest = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n_at_rest += 1
    if n_at_rest <= max_files:
        return 0
    from ..operators.layout import compact_parquet

    tmp = ckpt_path.rstrip("/") + "__compacting"
    old = ckpt_path.rstrip("/") + "__precompact"
    fs.delete(jvm_fs.Path(tmp), True)
    fs.delete(jvm_fs.Path(old), True)
    n = compact_parquet(spark, ckpt_path, tmp, target_file_mb=target_file_mb)
    # Hadoop rename reports most failures by RETURNING FALSE (and
    # renaming onto an existing dir nests the source inside it) — a
    # swallowed false here would silently duplicate lineage data, so
    # both renames are checked and abort loudly
    if not fs.rename(p, jvm_fs.Path(old)):
        fs.delete(jvm_fs.Path(tmp), True)
        raise RuntimeError(
            f"checkpoint compaction aborted: rename {ckpt_path} -> {old} failed"
        )
    if not fs.rename(jvm_fs.Path(tmp), p):
        # restore the original table before raising
        fs.rename(jvm_fs.Path(old), p)
        raise RuntimeError(
            f"checkpoint compaction aborted: rename {tmp} -> {ckpt_path} failed"
        )
    fs.delete(jvm_fs.Path(old), True)
    return n


def run_with_checkpoint(
    spark: SparkSession,
    units: DataFrame,
    process_fn,
    out_path: str,
    ckpt_path: str,
    run_id: str,
    unit_col: str = "unit_id",
    ckpt_fmt: str = "parquet",
    compact_above_files: int = 64,
) -> int:
    """Process only pending units; write output partitioned by unit;
    checkpoint afterwards. Returns number of units processed.

    Idempotent under retry/kill: output is partitioned by unit id with
    dynamic partition overwrite, so reprocessing a unit replaces its own
    partition exactly; the checkpoint row is written only after the data
    write succeeds (write-ahead of nothing, checkpoint-behind). When the
    append-only checkpoint table exceeds ``compact_above_files`` at-rest
    files it is compacted in place (``compact_checkpoint``) — long runs
    with many units stay resumable without a small-file swarm.
    """
    pend = pending_units(spark, units, ckpt_path, run_id, fmt=ckpt_fmt)
    n_pending = pend.count()
    if n_pending == 0:
        return 0
    result = process_fn(pend)
    (
        result.write.mode("overwrite")
        .partitionBy(unit_col)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_path)
    )
    done = spark.read.parquet(out_path).join(
        pend.select(unit_col), unit_col, "left_semi"
    )
    write_checkpoint(
        spark, lineage_rows(done, unit_col), ckpt_path, run_id, fmt=ckpt_fmt
    )
    if ckpt_fmt == "parquet" and compact_above_files is not None:
        compact_checkpoint(spark, ckpt_path, max_files=compact_above_files)
    return n_pending
