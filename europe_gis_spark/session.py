"""SparkSession factory with the engine's standard configuration.

The reference pins its execution shape in one JSON config
(``/root/reference/src/data_engineering/config.json:1-44``); we mirror that
with one session factory so every entry point (tests, bench, driver) runs
the same tuned session.

Scale notes (local[N] here, 1000-executor cluster in production):
  * AQE on — runtime coalescing + skew-join splitting replaces hand-tuned
    partition counts at 100 TB.
  * Arrow on with a bounded batch size — mirrors the reference's explicit
    batching of 100 windows per predict
    (``/root/reference/scripts/jobs/model_prediction.py:33``).
  * shuffle.partitions is a default only; AQE coalesces down, and big jobs
    override per-write.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 10_000


def get_spark(
    app_name: str = "europe-gis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) else
    ``local[*]``. On a real cluster, pass ``master=None`` with
    ``spark-submit`` owning the master URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Floor for AQE partition coalescing (default 1 MB). Our shuffles
        # carry CPU-DENSE rows (text to be md5-shingled, embedding arrays
        # to be pairwise-scored), so sizing partitions by bytes alone
        # under-parallelizes: with the 1 MB default a 600 KB shuffle
        # feeding a quadratic within-bucket join coalesces to ONE task
        # and serializes minutes of work on one core (measured:
        # semdedup's pair join, 88 s wall). With `parallelismFirst`
        # (default true) the coalesce target is max(total/parallelism,
        # THIS): at 64 KB every multi-MB CPU-dense shuffle still
        # spreads across the cluster, while genuinely tiny exchanges
        # (iterative graph rounds, top-k heads — a few KB) keep
        # collapsing to one task instead of flooding the scheduler with
        # 32 near-empty tasks per stage (measured: a 1-byte floor cost
        # +0.5–3 s on ~15 small multi-stage queries; 64 KB keeps both
        # regimes right). Scale-adaptive,
        # not a local[32] constant; override via SPARK_GRAFT_AQE_MIN_PART.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PART", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-side rows (tuples in the column order of the DDL string
    ``schema``) as a DataFrame whose plan is a ``LocalTableScan``.

    The rows go to the JVM as one ``pyarrow.Table``, empty or not.
    ``createDataFrame`` on a list, and on an EMPTY pandas frame even with
    Arrow on, instead parallelizes pickled rows: a PythonRDD stage that
    starts a Python daemon and its workers only to unpickle them.
    """
    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, row)) for row in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
