"""Skew handling for dense cells (London/Paris hotspots): frequency-
sampled salting (SURVEY.md §4 custom item 2), on top of AQE's skew-join
splitting (enabled session-wide in session.py).

Build-side replicate-and-salt for shuffle equi-joins on ``cell``: sample
the probe side's cell frequencies, derive a per-cell salt factor k ∝
frequency, explode the build side k ways and salt the probe side
uniformly — classic salted join, with the salt map broadcast (tiny: only
hot cells appear). The shuffle PIP join salts uniformly instead
(``geo_join.pip_join_shuffle``).

The reference's analogue is fixed 1000×1000 retiling
(``/root/reference/scripts/old_files/echo/dem.bat:1``); here the split
factor is data-driven.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cell_frequencies(
    df: DataFrame, cell_col: str = "cell", sample_frac: float = 0.05, seed: int = 42
) -> DataFrame:
    """Estimate per-cell row frequencies from a seeded sample."""
    return (
        df.sample(sample_frac, seed)
        .groupBy(cell_col)
        .agg((F.count("*") / sample_frac).alias("est_rows"))
    )


def salt_map(
    freq: DataFrame,
    cell_col: str = "cell",
    rows_per_task: float = 250_000.0,
    max_salt: int = 64,
) -> DataFrame:
    """Hot cells → salt factor k = ceil(est_rows / rows_per_task), capped.
    Cells under the threshold are absent (salt 1 implied)."""
    return (
        freq.withColumn(
            "salt_k",
            F.least(
                F.ceil(F.col("est_rows") / rows_per_task).cast("int"), F.lit(max_salt)
            ),
        )
        .filter(F.col("salt_k") > 1)
        .select(cell_col, "salt_k")
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    salts: DataFrame,
    cell_col: str = "cell",
    how: str = "inner",
) -> DataFrame:
    """Equi-join on cell with hot-cell salting.

    probe rows in a hot cell get a deterministic salt in [0, k) (hash of
    all columns — stable, not rand()); build rows in a hot cell are
    replicated k ways. Join key becomes (cell, salt). Row multiplicity
    is preserved exactly (property-tested).
    """
    s = F.broadcast(salts)
    p = (
        probe.join(s, cell_col, "left")
        .withColumn("salt_k", F.coalesce(F.col("salt_k"), F.lit(1)))
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in probe.columns]), F.col("salt_k")
            ).cast("int"),
        )
        .drop("salt_k")
    )
    b = (
        build.join(s, cell_col, "left")
        .withColumn("salt_k", F.coalesce(F.col("salt_k"), F.lit(1)))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("salt_k") - 1)))
        .drop("salt_k")
    )
    return p.join(b, [cell_col, "salt"], how).drop("salt")
