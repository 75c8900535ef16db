"""Mergeable frequency/membership sketches: Count-Min (heavy hitters)
and a Bloom-filter semi-join pruner.

Reference analogue: the reference keeps per-tile summary stats in its
Mongo metadata store (scripts/jobs/mongodb_scripts.py:29-46) and
recomputes exact counts per run; at corpus scale a 100 TB engine wants
BOUNDED-memory summaries that merge across partitions/snapshots — the
textbook Cormode–Muthukrishnan Count-Min sketch and Bloom filter, both
built from public formulas.

Hashing is md5-derived on BOTH engines (Spark ``conv(substr(md5(s),1,8),
16,10)`` ≡ DuckDB ``CAST('0x'||SUBSTRING(MD5(s),1,8) AS BIGINT)``), so
every bucket assignment is engine-portable and the DuckDB oracle can
rebuild the identical sketch relationally.

All hot-path expressions are built-in ``pyspark.sql.functions`` — no
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _md5_bucket(prefix, value_col, width: int):
    """Engine-portable hash bucket: first 8 md5 hex chars → uint32 % w."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(prefix, F.lit(":"), value_col)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_build(
    items: DataFrame,
    item_col: str = "term",
    weight_col: str | None = None,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build Count-Min counters from an item-per-row DataFrame.

    Output is (i, bucket, c) with AT MOST depth·width rows — a
    constant-size summary regardless of input size. The only shuffle is
    the (i, bucket) agg, and its map-side partial caps every task's
    output at depth·width rows, so shuffle volume is O(partitions), not
    O(items). Sketches over disjoint corpora MERGE by unioning counter
    tables and re-aggregating (``cms_merge``) — the property exact
    counts lack at bounded memory.
    """
    rows = items.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i"),
        F.col(item_col).alias("item"),
        (F.lit(1) if weight_col is None else F.col(weight_col)).alias("wt"),
    )
    return (
        rows.select(
            "i", _md5_bucket(F.col("i").cast("string"), F.col("item"), width).alias("bucket"), "wt"
        )
        .groupBy("i", "bucket")
        .agg(F.sum("wt").alias("c"))
    )


def cms_merge(*counter_tables: DataFrame) -> DataFrame:
    """Merge sketches built with the same (depth, width): counters add."""
    out = counter_tables[0]
    for t in counter_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("i", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(
    counters: DataFrame,
    queries: DataFrame,
    item_col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch: est(x) = min_i counters[i][h_i(x)].

    The counter table is ≤ depth·width rows → BROADCAST side of the
    probe join (hinted; it is bounded by construction, the one case a
    forced broadcast is always safe). Estimates never underestimate;
    overestimates are bounded by e·N/width with prob 1−e^−depth.
    """
    probes = queries.select(
        F.col(item_col).alias("item"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i"),
    )
    probes = probes.withColumn(
        "bucket", _md5_bucket(F.col("i").cast("string"), F.col("item"), width)
    )
    return (
        probes.join(F.broadcast(counters), ["i", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
        .select(F.col("item").alias(item_col), "est")
    )


BLOOM_BITS = 1 << 15
BLOOM_HASHES = 5


def _bloom_positions_of(key_col, m: int, k: int) -> list:
    """k bit positions per key: ``pmod(xxhash64('bloom<i>', key), m)``.

    xxhash64 is the JVM-native hash Spark itself uses for shuffle
    partitioning — ~50× cheaper than the previous per-probe
    md5+conv(hex) chain, which dominated the probe stage's runtime
    (measured 126 core-s at sf1.0 for k=5 over 6M fact rows). The
    Bloom hash family needs no engine portability: the oracle for any
    bloom-pruned join is the plain exact join (false positives are
    removed by the exact semi join; there are no false negatives), so
    the bit scheme never leaves the engine."""
    return [
        F.pmod(F.xxhash64(F.lit(f"bloom{i}"), key_col), F.lit(m))
        for i in range(k)
    ]


def bloom_bit_positions(
    keys: DataFrame,
    key_col: str,
    m: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """The set-bit positions of a Bloom filter over ``keys`` — k
    xxhash64-derived positions per key, distinct.
    ≤ min(m, k·|keys|) rows."""
    pos = _bloom_positions_of(F.col("key"), m, k)
    return (
        keys.select(F.col(key_col).cast("string").alias("key"))
        .select(F.explode(F.array(*pos)).alias("pos"))
        .distinct()
    )


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str,
    m: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Semi join with a map-side Bloom pre-filter: fact rows whose key
    fails ANY of the k bit probes are dropped BEFORE the exact join —
    the classic runtime-filter pattern (Spark's own InjectRuntimeFilter
    does this for AQE-eligible joins; this is the explicit, plannable
    form for when the build side is a separate pipeline stage).

    The exact semi join afterwards removes Bloom false positives, so
    output ≡ plain semi join (no false negatives by construction); at
    100 TB the win is the fact-side shuffle shrinking by the filter's
    selectivity.

    Build cost: the dim bit positions COLLECT to the driver (≤ m ints);
    valid precisely because the build side is broadcast-scale — the
    same budget as any broadcast hash join, documented at the call site.

    The bitmap attaches as a 1-row BROADCAST table carrying one
    array<bigint> column (m/64 words) probed with O(1) ``element_at``
    + ``shiftright``. NOT as an inline array literal: k probe sites ×
    m/64 literals made a plan the optimizer then copied onto the DIM
    side too (InferFiltersFromConstraints transfers join-key
    predicates), costing seconds of driver-side optimize/codegen per
    run (measured: ~8 s of a 10.7 s wall at sf1.0) and re-hashing the
    dim side for nothing. A column reference can't be transferred
    cross-side, and the plan stays O(k) nodes. NOT as
    ``isin(*positions)`` (an In-list of 10⁴ literals costs seconds of
    py4j plan construction) and NOT as a ``substring`` probe over an
    m-char string literal (UTF8String counts code points from the
    string start — O(m) PER ROW).
    """
    bits = {r.pos for r in bloom_bit_positions(dim_keys, dim_key, m, k).collect()}
    words = [0] * (m // 64)
    for p in bits:
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    spark = fact.sparkSession
    bits_df = local_frame(spark, [(words,)], "__bloom_words: array<bigint>")
    key = F.col(fact_key).cast("string")
    pruned = fact.crossJoin(F.broadcast(bits_df))
    pos_cols = []
    for i, pos in enumerate(_bloom_positions_of(key, m, k)):
        c = f"__bloom_pos_{i}"
        pos_cols.append(c)
        pruned = pruned.withColumn(c, pos)
    # shiftright-by-column needs the SQL form (the python builtin only
    # takes an int literal)
    cond = " AND ".join(
        f"((shiftright(element_at(__bloom_words, cast({c} / 64 as int) + 1),"
        f" cast({c} % 64 as int)) & 1) = 1)"
        for c in pos_cols
    )
    pruned = pruned.filter(F.expr(cond)).drop("__bloom_words", *pos_cols)
    return pruned.join(
        dim_keys.select(F.col(dim_key).alias(fact_key)).distinct(),
        fact_key,
        "left_semi",
    )


# --------------------------------------------------------------------------
# HyperLogLog (Flajolet–Fuchs–Gandouet–Meunier 2007)

HLL_B = 9  #: 2^9 = 512 registers → rsd ≈ 1.04/sqrt(512) ≈ 4.6 %
HLL_M = 1 << HLL_B
#: bias-correction constant alpha_m for m ≥ 128
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: scale for the EXACT-INTEGER register sum (see hll_cardinality)
HLL_W = 32


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL registers (group…, bucket, mx) — the mergeable
    bounded summary (≤ m rows per group no matter the input size).

    bucket and rank come from DISJOINT md5 bit ranges (hex chars 1-4
    mod m, chars 5-12 as the 32-bit rank word), so both are rebuildable
    relationally by the DuckDB oracle. rho = 33 − bitlength(x) via
    ``bin()`` string length — pure integer/string ops, engine-portable
    (no float log2 at power-of-two boundaries).
    """
    h = F.md5(F.col(key_col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % HLL_M
    x = F.conv(F.substring(h, 5, 8), 16, 10).cast("long")
    rho = F.when(x == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(x))
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("mx"))
    )


def hll_cardinality(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL distinct estimate, BIT-EXACT across engines.

    The raw estimate is E = α_m·m² / Σ_j 2^(−M_j). Summing 512 doubles
    is addition-order-dependent, so the sum is kept EXACT: every term
    2^(−M_j) is the dyadic rational 2^(33−M_j)/2^33 (M_j ≤ 33), so
    Σ·2^33 is an integer accumulated with shiftleft — the only float
    ops are one division and one multiply by the α_m·m² literal, in a
    fixed expression order both engines share. Small-range correction
    (E ≤ 2.5m with empty registers) switches to linear counting
    m·ln(m/V) — again a float fn of exact integers. Registers absent
    from the group (M_j = 0) contribute 2^33 each via the
    (m − n_present) closed form: the sketch never materializes empty
    buckets.

    Scale shape: one (group, bucket) shuffle bounded at m rows/group,
    then a per-group agg — the classic mergeable-sketch contract
    (register tables from different corpus shards union + max-merge).
    """
    regs = hll_registers(df, key_col, group_cols)
    # F.shiftleft only takes an int literal for numBits — the SQL form
    # accepts a column expression
    s_present = F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - mx)"))
    per = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"), s_present.alias("s_present")
    )
    two_w = float(1 << (HLL_W + 1))
    s_scaled = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << (HLL_W + 1))
    )
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        s_scaled.cast("double") / F.lit(two_w)
    )
    v = F.lit(HLL_M) - F.col("n_present")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return per.select(*group_cols, F.round(est, 4).alias("est_distinct"))
