"""Physical-plan assertions: pushdown, pruning, broadcast, codegen —
the SURVEY.md §4 'Catalyst status' claims, verified on .explain output."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def tile_table(spark, tmp_path_factory):
    from europe_gis_spark.datagen import geodata

    path = str(tmp_path_factory.mktemp("tiles") / "tiles.parquet")
    (
        spark.createDataFrame(geodata.raster_tiles())
        .write.partitionBy("layer", "tile_row")
        .parquet(path)
    )
    return spark.read.parquet(path)


def test_windowed_read_is_partition_pruned(tile_table):
    """S4: tile-window predicates must reach the scan as partition
    filters, not post-scan filters."""
    q = tile_table.filter(
        (F.col("layer") == "dem") & (F.col("tile_row") == 1) & (F.col("tile_col") <= 2)
    )
    p = plan_str(q)
    assert "PartitionFilters" in p
    assert "layer" in p.split("PartitionFilters", 1)[1][:400]
    # non-partition predicate pushed to parquet
    assert "PushedFilters" in p
    assert "tile_col" in p.split("PushedFilters", 1)[1][:300]


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    p = plan_str(q)
    after = p.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" in after and "l_quantity" in after
    assert "l_extendedprice" not in after  # pruned


def test_dimension_joins_are_broadcast(spark):
    from europe_gis_spark.queries import q_nation_revenue

    p = plan_str(q_nation_revenue(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_flagship_join_has_single_shuffle(spark):
    """The flagship pages join must be map-side except the final count
    aggregation: exactly one Exchange below the agg, none feeding the
    assignment."""
    import numpy as np

    from europe_gis_spark.datagen import geodata, pages as pgen
    from europe_gis_spark.operators import geo_join

    pages_df = spark.createDataFrame(pgen.pages_pandas(np.arange(200)))
    polys_df = spark.createDataFrame(geodata.admin_polygons())
    idx_bc = geo_join.build_polygon_index_bc(
        spark, polys_df.filter("levl_code = 3")
    )
    counts = (
        geo_join.tag_pages(pages_df, idx_bc, host_hints=pgen.host_city_hints())
        .groupBy("poly_id")
        .count()
    )
    p = plan_str(counts, mode="simple")
    # one shuffle for the final agg (AQE may add a read-side node; count
    # Exchange operators in the plan tree)
    assert p.count("Exchange") == 1, p


def test_minhash_signatures_are_map_side(spark):
    """MinHash signature computation must be shuffle-free (one Arrow
    pass hashing the shingles, no explode+groupBy):
    zero Exchange in the signature plan, and the full LSH candidate job
    must shuffle only band keys — one Exchange for banding plus the
    pair-dedup aggregation, never the shingle rows."""
    from europe_gis_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    sig = dedup.minhash_signatures(docs)
    p = plan_str(sig, mode="simple")
    assert "Exchange" not in p, p
    assert "Generate" not in p  # no explode anywhere in signature calc

    pairs = dedup.lsh_candidate_pairs(docs)
    pairs.collect()  # materialize so AQE finalizes the plan
    pp = pairs._jdf.queryExecution().executedPlan().toString()
    # the self-join's two sides must share ONE band-key exchange —
    # without reuse the whole text-hashing pipeline runs twice
    assert "ReusedExchange" in pp, pp
    assert "BroadcastHashJoin" not in pp, pp


def test_bucketed_tables_join_without_shuffle(spark):
    """The 'bucketing for co-located joins' scale claim, demonstrated:
    two tables bucketed+sorted on the join key join with ZERO Exchange
    (each bucket pair joins in place — at 100 TB this removes the
    biggest shuffle of repeated fact-fact joins)."""
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS o_bkt")
    spark.sql("DROP TABLE IF EXISTS c_bkt")
    (
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("o_bkt")
    )
    (
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("c_bkt")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("o_bkt")
            .join(spark.table("c_bkt"), F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_name")
        )
        p = plan_str(j, mode="simple")
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS o_bkt")
        spark.sql("DROP TABLE IF EXISTS c_bkt")


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    """The at-rest IVF claim: reading the list_id-partitioned index with
    a probe filter must prune at the PARTITION level (only probed lists'
    files scanned), and the indexed query must return exactly what the
    scan-based ivf_topk returns under the same centroids."""
    from europe_gis_spark.operators import similarity
    from europe_gis_spark.queries import QUERY_VEC

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = similarity.train_ivf_centroids(e, n_lists=16, seed=7)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(e, path, cent)
    probe = [int(x) for x in similarity.probe_lists(cent, QUERY_VEC, 4)]
    cand = spark.read.parquet(path).filter(F.col("list_id").isin(probe))
    p = plan_str(cand)
    assert "PartitionFilters" in p
    assert "list_id" in p.split("PartitionFilters", 1)[1][:400], p
    assert {r.list_id for r in cand.select("list_id").distinct().collect()} <= set(probe)

    got = similarity.ivf_topk_from_index(
        spark, path, cent, QUERY_VEC, k=5, n_probe=4
    ).collect()
    want = similarity.ivf_topk(
        e, QUERY_VEC, k=5, n_probe=4, centroids=cent
    ).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in want
    ]


def test_simhash_probe_join_is_shuffled_hash(spark):
    """The SimHash candidate join must be a SHUFFLED hash join: the
    planner would otherwise broadcast the 68-rows/doc probe table —
    fine at test scale, catastrophic at corpus scale."""
    from europe_gis_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = dedup.simhash_near_pairs(docs)
    pairs.collect()
    p = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p, p


def test_lm_score_scoring_is_map_side(spark):
    """char_trigram_lm_scores must never shuffle trigram rows for
    scoring: the count table joins back via BROADCAST, so the only wide
    exchanges are the count aggregation and the per-doc final agg."""
    from europe_gis_spark.operators import textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = textops.char_trigram_lm_scores(docs)
    p = plan_str(df, mode="simple")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_decontaminate_broadcasts_bench_side_only(spark):
    """contamination_flags' load-bearing plan properties: the tiny
    benchmark shingle set is the ONE forced broadcast; the hit table
    (one row per contaminated doc — corpus-scale when contamination is
    widespread) must join back UN-hinted so the planner is free to
    shuffle it at scale."""
    from europe_gis_spark.operators import textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    df = textops.contamination_flags(docs, bench)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("strategy=broadcast") == 1, analyzed
    # and the forced one resolves to a broadcast-hash join in the
    # physical plan (the shingle probe stays map-side)
    assert "BroadcastHashJoin" in plan_str(df, mode="simple")


def test_corpus_select_reads_checkpointed_union_not_files(spark):
    """q_corpus_select materializes the docs+dups union ONCE
    (localCheckpoint) before fanning out to candidates/verify/keep/
    quality; every branch of the final plan must read that in-memory
    table (Scan ExistingRDD) — a documents.parquet FileScan anywhere
    means a branch silently re-evaluates the union per job."""
    from europe_gis_spark.queries import q_corpus_select

    df = q_corpus_select(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "Scan ExistingRDD" in p, p
    assert "documents.parquet" not in p, p


def test_url_dedup_single_exchange_map_side_canonical(spark):
    """url_dedup's load-bearing shape: canonicalization is pure JVM
    string expressions (no Python evaluator anywhere), and the ONLY
    exchanges are the canonical-key aggregation's partial/final pair —
    one logical shuffle, nothing reshuffles the raw URL rows."""
    from europe_gis_spark.queries import q_url_dedup

    df = q_url_dedup(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    body = p.split("AdaptiveSparkPlan")[-1]
    # hash exchanges: the standard distinct-agg pair and nothing else —
    # (canonical_url, url) for partial_count(distinct), then
    # canonical_url for the final agg; every exchange keys on the
    # canonical key (raw rows are never reshuffled on anything else)
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", body)
    assert len(hashes) <= 2, body
    assert all("canonical_url" in h for h in hashes), hashes


def test_hard_negatives_window_is_group_limited(spark):
    """The rank filter must stay conjunct-first so InferWindowGroupLimit
    caps each query partition's sort at neg_hi rows — a bare disjunction
    silently forces a full per-query corpus sort."""
    from europe_gis_spark.queries import q_hard_negatives

    p = plan_str(q_hard_negatives(spark, "/root/testdata/sf0.001"), mode="simple")
    assert "WindowGroupLimit" in p, p


def test_pip_shuffle_join_never_broadcasts_corpus_sides(spark):
    """The no-broadcast spatial-join path must stay that way, and stay
    one local join per group: exactly one cogroup
    (FlatMapCoGroupsInPandas) fed on both sides by a (key, salt) hash
    exchange; no broadcast hash join, and no broadcast but the
    ``range(_N_SALT)`` salt table on the polygon side; nothing after the
    cogroup but the query's own count (last-wins is decided inside each
    group, so no regroup and no join back)."""
    import re

    from europe_gis_spark.queries import q_geo_pip_shuffle

    p = plan_str(q_geo_pip_shuffle(spark, "/root/testdata/sf0.001"), mode="simple")
    lines = p.splitlines()
    cog = [i for i, ln in enumerate(lines) if "FlatMapCoGroupsInPandas" in ln]
    assert len(cog) == 1, p
    keyed = re.findall(r"Exchange hashpartitioning\(key#\d+L?, salt#\d+L?, ", p)
    assert len(keyed) == 2, p
    assert "BroadcastHashJoin" not in p, p
    bcast = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert len(bcast) == 1 and "salt" in lines[bcast[0] + 1], p
    assert "Range (0, 8," in lines[bcast[0] + 2], p
    above = lines[: cog[0]]
    assert not any("Join" in ln for ln in above), p
    aggs = [ln for ln in above if "Aggregate" in ln]
    assert aggs and all("keys=[poly_id#" in ln for ln in aggs), p


def test_no_query_regresses_to_cartesian_or_row_python(spark):
    """Registry-wide guardrail: building every registered query's
    physical plan, none may contain a non-broadcast cartesian product
    or a row-at-a-time Python UDF (BatchEvalPython) — Arrow-batched
    evaluation (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
    is the only sanctioned Python path."""
    from europe_gis_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, (fn, _sql) in sorted(QUERIES.items()):
        p = plan_str(fn(spark, sf), mode="simple")
        bad = []
        if "CartesianProduct" in p:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in p:
            bad.append("BatchEvalPython")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling must actually engage on a skewed shuffle
    join: one hot key holds ~all rows; with thresholds scaled to the
    test data, the FINAL adaptive plan marks the sort-merge join
    skew-handled (isSkew/skew=true), i.e. the hot partition was split."""
    conf_keys = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-payload-payload-"), F.col("id")).alias("v"),
        )
        dim = spark.range(0, 400_000).select(
            F.col("id").alias("k"), F.lit("d").alias("name")
        )
        j = big.join(dim, "k").select(F.count("*").alias("n"))
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_whole_stage_codegen_covers_agg(spark):
    from europe_gis_spark.queries import q_pricing_summary

    df = q_pricing_summary(spark, "/root/testdata/sf0.001")
    # AQE shows WholeStageCodegen only in codegen mode pre-execution
    p = plan_str(df, mode="codegen")
    assert "WholeStageCodegen" in p
    # and the aggregation is partial+final with pushdown (simple mode)
    s = plan_str(df, mode="simple")
    assert "partial_sum" in s and "PushedFilters: [IsNotNull" in s


def test_within_distance_join_is_equi_hash_not_nested_loop(spark):
    """The ε-join must plan as an EQUI join on the grid key (broadcast
    or shuffled hash) — never BroadcastNestedLoopJoin, which is what a
    naive range-predicate join degenerates to."""
    from pyspark.sql import functions as F

    from europe_gis_spark.operators import knn as K

    left = spark.range(0, 10_000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 997).cast("double").alias("x"),
        (F.col("id") % 883).cast("double").alias("y"),
    )
    right = spark.range(0, 500).select(
        F.concat(F.lit("a"), F.col("id")).alias("anchor_id"),
        (F.col("id") * 2.0).alias("x"),
        (F.col("id") * 1.7).alias("y"),
    )
    df = K.within_distance_join(left, right, 25.0)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p
    assert ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p) or (
        "SortMergeJoin" in p
    ), p


def test_extract_links_is_map_side_only(spark):
    """Anchor extraction + URL resolution must plan with NO exchange —
    one codegen'd scan pass per partition (generate/explode is
    pipeline-local), or the payload would reshuffle at corpus scale."""
    from europe_gis_spark.operators import webops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit('<a href="/x/'), F.col("doc_id").cast("string"),
                 F.lit('">l</a>')).alias("html"),
    )
    p = plan_str(webops.extract_links(pages), mode="simple")
    assert "Exchange" not in p, p


def test_robots_decisions_broadcasts_rules_no_window_sort(spark):
    """The rules corpus must arrive via BroadcastHashJoin (pages never
    reshuffle onto rule keys) and the winner-pick must be the
    max(struct) aggregate — no Window operator, whose per-url sort
    would buffer every candidate rule row."""
    import pandas as pd

    from europe_gis_spark.operators import webops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string")).alias("url")
    )
    rules = spark.createDataFrame(
        pd.DataFrame(
            [("h1.com", "/p/1", False), ("h1.com", "/p/12", True)],
            columns=["host", "prefix", "allow"],
        )
    )
    p = plan_str(webops.robots_decisions(pages, rules), mode="simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "Window" not in p, p


def test_merge_spans_single_data_shuffle(spark):
    """merge_intervals' load-bearing shape: ONE hash exchange on the
    key; both window phases AND the island aggregate ride that single
    partitioning (hashpartitioning(key) satisfies the (key, island)
    clustering — no second data shuffle); the only other exchange is
    the output-contract orderBy's range partitioning."""
    import re

    from europe_gis_spark.queries import q_merge_spans

    df = q_merge_spans(spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    body = p.split("== Initial Plan ==")[0]
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", body)
    assert len(hashes) == 1, body
    assert "user_id" in hashes[0]
    assert body.count("Window ") == 2, body
    # the grouped agg appears as partial+final with NO exchange between
    agg_part = body.split("Window ")[0]
    assert "Exchange" not in agg_part.split("HashAggregate", 1)[-1].split(
        "HashAggregate"
    )[0]


def test_scd2_single_data_shuffle_two_windows(spark):
    """scd2_history: one hash exchange on the key; the change-detect
    and interval-close windows both ride it (the second sorts only the
    filtered change rows, no re-exchange)."""
    import re

    from europe_gis_spark.queries import q_scd2

    df = q_scd2(spark, "/root/testdata/sf0.001")
    df.collect()
    body = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", body)
    assert len(hashes) == 1, body
    assert "user_id" in hashes[0]
    assert body.count("Window ") == 2, body


def test_collocations_topk_is_take_ordered(spark):
    """collocations: the global top-k must be TakeOrderedAndProject
    (per-partition heap), never a full sort; bigram forming is array
    HOFs — no Python evaluator."""
    from europe_gis_spark.queries import q_collocations

    df = q_collocations(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "TakeOrderedAndProject" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_bm25_filters_query_terms_before_shuffle_topk_is_take_ordered(spark):
    """bm25_topk: the query-term isin filter must sit on the scan side
    (only matching postings enter the tf shuffle — at corpus scale the
    non-matching vocabulary never leaves the map side), and the global
    top-k must be TakeOrderedAndProject, never a full sort."""
    from europe_gis_spark.queries import q_bm25_topk

    df = q_bm25_topk(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "TakeOrderedAndProject" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    # the term filter appears (Generate explode feeds a Filter with the
    # IN-set) — a plan that aggregates the full vocabulary first would
    # carry the isin above the partial agg instead
    pre_exchange = p.split("Exchange")[0] if "Exchange" in p else p
    low = p.lower()
    assert "vector" in low and "stream" in low and "hash" in low, p


def test_hybrid_rrf_fusion_is_constant_bounded(spark):
    """hybrid_rrf: both candidate lists are LIMIT-truncated before the
    fusion join (the corpus never reaches the full-outer join) and the
    fused result is TakeOrderedAndProject."""
    from europe_gis_spark.queries import q_hybrid_rrf

    df = q_hybrid_rrf(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    # two limit=50 candidate lists + the final limit=10 fusion, all as
    # per-partition-heap TakeOrderedAndProject (no full sort anywhere)
    assert p.count("TakeOrderedAndProject") >= 3, p
    assert "TakeOrderedAndProject(limit=50" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_cms_probe_join_broadcasts_bounded_counters(spark):
    """cms_heavy_hitters: the counter table is ≤ depth·width rows by
    construction — the probe join must be a broadcast hash join (never
    a shuffle of the vocabulary against it), all JVM-side."""
    from europe_gis_spark.queries import q_cms_heavy_hitters

    df = q_cms_heavy_hitters(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_bloom_filter_prunes_fact_side_before_semi_join(spark):
    """bloom_semi_join: the k xxhash64 bit probes must sit as a Filter
    on the fact scan side BELOW the exact semi join — the
    runtime-filter shape (fact shuffle shrinks by the bloom's
    selectivity) — with the bitmap attached as a 1-row broadcast, not
    an inline literal (r6: literal form cost seconds of driver
    optimize/codegen and was copied onto the dim side)."""
    from europe_gis_spark.queries import q_bloom_semi

    df = q_bloom_semi(spark, "/root/testdata/sf0.001")
    p = plan_str(df, mode="simple")
    assert "LeftSemi" in p, p
    # the probe filter exists, is JVM-side, and reads the broadcast
    # bitmap column rather than re-inlining m/64 literals per probe
    assert "xxhash64" in p, p
    assert "__bloom_words" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_dsir_two_corpus_scans_broadcast_lambda_take_ordered(spark):
    """dsir_select: the FINAL adaptive plan reads the corpus ONCE (the
    bucket-count table is localCheckpointed — its job is the only other
    corpus scan); the λ table attaches as a broadcast hash join; the
    Gumbel top-k is TakeOrderedAndProject; no Python evaluator."""
    from europe_gis_spark.queries import q_dsir_select

    df = q_dsir_select(spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("+- == Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "Scan ExistingRDD" in final, final
    assert "BroadcastHashJoin" in final, final
    assert "TakeOrderedAndProject" in final, final
    assert "ArrowEvalPython" not in final and "BatchEvalPython" not in final


def test_bpe_pair_argmax_is_take_ordered_no_python(spark):
    """The BPE merge-iteration unit: argmax over pair counts must be a
    1-row TakeOrderedAndProject (per-partition heap), never a global
    sort, and the whole loop body stays JVM-side."""
    from pyspark.sql import functions as F

    from europe_gis_spark.operators import textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pair1 = (
        textops._bpe_pair_counts(textops.bpe_words(docs))
        .orderBy(F.desc("cnt"), "lft", "rgt")
        .limit(1)
    )
    p = plan_str(pair1, mode="simple")
    assert "TakeOrderedAndProject" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_hll_single_register_exchange(spark):
    """hll_cardinality: exactly ONE exchange pair (the (group,bucket)
    register agg feeds the per-group reduction which rides the same
    keyed layout — grouping on a prefix of the keys may add a second
    small exchange over <= m rows/group, never a corpus-scale one);
    no Python evaluator anywhere."""
    from europe_gis_spark.operators import sketch

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = sketch.hll_cardinality(ev, "user_id", ["event_type"])
    p = plan_str(df, mode="simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    # corpus-side exchange count: the register agg + the <=512-rows/group
    # rollup — both keyed, bounded post-partial
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_tile_pyramid_scans_points_once_reuses_base(spark):
    """tile_pyramid: ONE point scan for the whole pyramid — the base
    (tx, ty) grid exchange is computed once and ReusedExchange'd by
    the other zoom branches (the z_min branch materializes the
    halving chain; every other level reuses its prefix). No Python
    evaluator; values are integer sums."""
    from europe_gis_spark.queries import q_tile_pyramid

    df = q_tile_pyramid(spark, "/root/testdata/sf0.001")
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("Scan parquet") == 1, final
    # 5 reuses: base exchange by the z_max branch + the 4 intermediate
    # halving exchanges by zoom branches 4..7
    assert final.count("ReusedExchange") >= 5, final
    assert "ArrowEvalPython" not in final and "BatchEvalPython" not in final


def test_webmap_query_plan_shapes(spark):
    """hex_bin: ONE corpus exchange (the (q, r) count agg) and no
    Python evaluator; line_raster: map-side explode, then only the
    bounded dedup/count exchanges; kde_heatmap already pinned by its
    operator test — all three stay JVM-only."""
    from europe_gis_spark.queries import q_hex_bin, q_line_raster

    hb = q_hex_bin(spark, "/root/testdata/sf0.001")
    p = plan_str(hb, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p

    lr = q_line_raster(spark, "/root/testdata/sf0.001")
    p2 = plan_str(lr, mode="simple")
    assert "Generate explode" in p2 or "Explode" in p2 or "Generate" in p2, p2
    # window + within-segment dedup + final count: bounded exchanges
    assert p2.count("Exchange hashpartitioning") <= 3, p2
    assert "ArrowEvalPython" not in p2 and "BatchEvalPython" not in p2, p2
