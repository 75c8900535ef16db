"""Text-analysis operators over the documents table (training-data
pipeline layer): token counting, quality scoring, language-ID hit
counting, document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs. Each has an exact ANSI-SQL
mirror for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny per-language marker word lists for the n-gram/wordlist heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
}


def tokens_col(col: str = "text"):
    """Whitespace tokenization (regex split on \\s+ of trimmed text)."""
    return F.split(F.trim(F.col(col)), r"\s+")


# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation —
# the coarse shape of GPT-2-style pretokenization; identical semantics
# in Java regex (Spark) and RE2 (DuckDB)
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counts (whitespace + BPE-ish regex) + char count + avg
    token length per document."""
    toks = tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPEISH_PATTERN)).alias("n_bpeish"),
        F.length("text").alias("n_chars_actual"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
         / F.greatest(F.size(toks), F.lit(1))).alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, whitespace ratio, stopword
    ratio, non-alphanumeric ratio — the standard web-text filters."""
    toks = tokens_col()
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    )
    non_alnum = F.length(F.regexp_replace(F.col("text"), r"[a-zA-Z0-9 ]", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        (stop_hits.cast("double") / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        (non_alnum.cast("double") / F.greatest(F.length("text"), F.lit(1))).alias(
            "symbol_ratio"
        ),
        (
            (F.length("text") >= 100)
            & (stop_hits > 0)
        ).alias("passes_quality"),
    )


def lang_hits(docs: DataFrame) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language plus
    the argmax prediction (deterministic tie-break: en>de>fr>es)."""
    toks = tokens_col()
    cols = [docs["doc_id"], docs["lang"].alias("lang_true")]
    def marker_filter(words):
        # NB: a 2-arg lambda would be treated as (element, index) by
        # F.filter — keep it unary via this factory
        return lambda t: t.isin(*words)

    for lang, words in LANG_MARKERS.items():
        cols.append(
            F.size(F.filter(toks, marker_filter(words))).alias(f"hits_{lang}")
        )
    out = docs.select(*cols)
    pred = F.when(
        (F.col("hits_en") >= F.col("hits_de"))
        & (F.col("hits_en") >= F.col("hits_fr"))
        & (F.col("hits_en") >= F.col("hits_es")),
        F.lit("en"),
    )
    pred = pred.when(
        (F.col("hits_de") >= F.col("hits_fr")) & (F.col("hits_de") >= F.col("hits_es")),
        F.lit("de"),
    )
    pred = pred.when(F.col("hits_fr") >= F.col("hits_es"), F.lit("fr")).otherwise(
        F.lit("es")
    )
    return out.withColumn("pred_lang", pred)


WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # minima window width


def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W, digest: bool = True
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting scheme): rolling char k-grams
    of the normalized text are hashed, and each w-window of consecutive
    hashes contributes its MINIMUM; the distinct minima are the doc's
    fingerprint set. Guarantees any shared substring of length
    ≥ k + w − 1 yields a shared fingerprint.

    Entirely map-side array higher-order functions (no explode, no
    shuffle, no Python); hash = first 8 hex chars of md5 so the DuckDB
    oracle reproduces it verbatim. Output per doc: fingerprint-set size
    and an md5 digest of the sorted set (compact, hash-comparable).
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    base = docs.select("doc_id", norm.alias("nt"))
    n = F.length("nt")
    grams_idx = F.sequence(F.lit(1), n - (k - 1))
    hs = F.when(
        n >= k,
        F.transform(grams_idx, lambda i: F.substring(F.md5(F.col("nt").substr(i, F.lit(k))), 1, 8)),
    ).otherwise(F.array().cast("array<string>"))
    hdf = base.select("doc_id", hs.alias("hs"))
    m = F.size("hs")
    mins = (
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - (w - 1)),
                lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
            ),
        )
        .when(m > 0, F.array(F.array_min("hs")))
        .otherwise(F.array().cast("array<string>"))
    )
    fset = F.array_sort(F.array_distinct(mins))
    if not digest:
        return hdf.select("doc_id", F.explode(fset).alias("fp"))
    return hdf.select(
        "doc_id",
        F.size(fset).alias("n_fps"),
        F.md5(F.concat_ws("", fset)).alias("fp_digest"),
    )


def chunk_documents(
    docs: DataFrame, chunk_chars: int = 512, overlap: int = 64
) -> DataFrame:
    """LLM-training document chunking: split each doc into fixed-width
    character windows with overlap (stride = chunk_chars − overlap),
    keeping provenance (doc_id, chunk_id, offset). Entirely map-side —
    one sequence+transform HOF builds the chunk array, posexplode emits
    rows; no Python, no shuffle. The last chunk is the (possibly short)
    tail; docs shorter than one chunk yield exactly one chunk.

    Output: (doc_id, chunk_id, off, chunk_text, n_chars).
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    n = F.length("text")
    # number of chunks = 1 + ceil(max(n - chunk_chars, 0) / stride)
    n_chunks = 1 + F.ceil(
        (F.greatest(n - chunk_chars, F.lit(0))) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.col("text").substr(i * stride + 1, F.lit(chunk_chars)),
    )
    e = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )
    return e.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride).cast("long").alias("off"),
        "chunk_text",
        F.length("chunk_text").cast("long").alias("n_chars"),
    )


def span_dedup(docs: DataFrame, span_tokens: int = 15) -> DataFrame:
    """C4-style exact span dedup that REWRITES the corpus: every doc is
    split into fixed ``span_tokens``-token spans, each distinct span
    text survives only at its first corpus occurrence (min (doc_id,
    idx)), and documents are reassembled from their kept spans — the
    "remove duplicated three-sentence spans" cleanup of C4 (Raffel et
    al.) / FineWeb, at span granularity since the synthetic corpus has
    no sentence boundaries. Unlike ``dedup.*`` (pair/flag emitters)
    and ``chunk_documents`` (chunk emitter), the OUTPUT here is the
    cleaned corpus itself.

    Plan: span explode is map-side (sequence+transform+posexplode, no
    Python); the winner pick is ONE groupBy(span) with
    ``min(struct(doc_id, idx))`` — partial aggregation collapses hot
    boilerplate spans map-side, which is why this is NOT a
    row_number-over-Window (a 10⁹-copy boilerplate span would funnel
    into one sort partition); the winner table joins back on span
    (AQE skew-join splits any residual hot key) and reassembly is one
    groupBy(doc_id) with an array_sort over (idx, span) structs.

    Output: (doc_id, clean_text, kept_spans, total_spans) — docs whose
    every span was seen earlier come back with clean_text = ''.
    """
    toks = docs.filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select("doc_id", F.split("text", " ").alias("t"))
    n_spans = F.ceil(F.size("t") / F.lit(float(span_tokens))).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice("t", i * span_tokens + 1, span_tokens)
        ),
    )
    e = toks.select("doc_id", F.posexplode(spans_arr).alias("idx", "span"))
    winners = e.groupBy("span").agg(
        F.min(F.struct("doc_id", "idx")).alias("w")
    )
    kept = (
        e.join(winners, "span")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("idx") == F.col("w.idx"))
        )
        .select("doc_id", "idx", "span")
    )
    totals = e.groupBy("doc_id").agg(F.count("*").alias("total_spans"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("kept_spans"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s["span"],
            ),
        ).alias("clean_text"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("kept_spans", F.lit(0)).alias("kept_spans"),
        "total_spans",
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_posting: int = 200,
) -> DataFrame:
    """SUBSTRING-level near-dup candidates — the winnowing approximation
    of suffix-array substring dedup (Lee et al., 'Deduplicating Training
    Data Makes Language Models Better'): two docs sharing ``min_shared``
    winnowing fingerprints share, with the winnowing guarantee, common
    substrings of length ≥ k + w − 1 — catching quote/boilerplate reuse
    that whole-document shingle Jaccard misses.

    Plan: per-doc fingerprint SETS build map-side (winnow_fingerprints);
    the postings self-join is fingerprint-bucket-local with a
    ``max_posting`` hot-fingerprint cap (ubiquitous boilerplate hashes
    carry no pair signal and would create quadratic buckets) — the same
    exchange-reuse + cap shape as dedup.lsh_candidate_pairs.

    Output: (doc_a, doc_b, n_shared) for pairs with ≥ min_shared shared
    fingerprints.
    """
    from .dedup import cap_hot_buckets

    fps = winnow_fingerprints(docs, k, w, digest=False)  # (doc_id, fp)
    if max_posting is not None:
        fps = cap_hot_buckets(fps, ("fp",), max_posting)
    left = fps.alias("a").hint("shuffle_hash")
    return (
        left.join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def tf_idf(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF
    (``tfidf = tf · (ln((N+1)/(df+1)) + 1)``, the scikit-style smooth
    idf) — the classic keyword-extraction / retrieval-weighting pass
    over a web corpus.

    Plan (100 TB shape): explode → (doc_id, term) count with map-side
    partial agg, LOCALLY CHECKPOINTED — document frequencies and the
    tf⋈df join then genuinely reuse the materialized aggregate instead
    of re-scanning and re-tokenizing the text (lineage reuse is not
    free in Spark; without the checkpoint the most expensive stage runs
    twice). The join shuffles on term — the vocabulary is corpus-scale
    (AQE still broadcasts it when it measures small); corpus size N
    attaches via a broadcast 1-row aggregate; the top-k is one
    doc_id-partitioned window with WindowGroupLimit pushing k below the
    shuffle. Ranking orders by the ROUNDED score so float noise cannot
    flip boundary ranks between engines (oracle parity), ties broken by
    term for determinism.
    """
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfx = tf.groupBy("term").agg(F.count("*").alias("df"))
    # every doc yields ≥1 token (split of even empty text emits [""]),
    # so distinct doc_id over the checkpointed aggregate == |docs| —
    # avoids a third scan of the text table for a 1-row count
    ndocs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


def inverted_index(
    docs: DataFrame, min_df: int = 2, max_df: int | float | None = 0.8
) -> DataFrame:
    """Term → sorted posting list (distinct doc_ids) + document
    frequency: the retrieval-index build pass.

    ``min_df`` drops hapax noise; ``max_df`` is the SCALE guard — a
    stopword's posting list is corpus-sized (every doc), ruinous to
    collect and useless for retrieval, so terms above the ceiling are
    dropped wholesale (same rationale as the dedup hot-bucket cap). An
    int is an absolute ceiling; a float in (0, 1] is a FRACTION of the
    corpus (scikit's ``max_df`` convention — scale-invariant).
    Plan: one distinct (term, doc_id) exchange, then a term-keyed agg;
    ``collect_set`` + ``sort_array`` keeps postings deterministic."""
    pairs = (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .distinct()
    )
    out = pairs.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )
    out = out.filter(F.col("df") >= min_df)
    if isinstance(max_df, float):
        ndocs = docs.agg(F.count("*").alias("n_docs"))
        out = (
            out.crossJoin(F.broadcast(ndocs))
            .filter(F.col("df") <= F.col("n_docs") * max_df)
            .drop("n_docs")
        )
    elif max_df is not None:
        out = out.filter(F.col("df") <= max_df)
    return out


def budget_select(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Per-group token-budget selection: within each group (source /
    domain / language), walk docs in ``order_col`` order and keep while
    the running token total stays within ``budget_tokens`` — the 'give
    me N tokens per source' corpus-mixing primitive.

    One window over the (group, order) exchange: the cumulative sum is
    a running frame, no self-join, no driver loop. Emits every doc with
    its running total and keep flag so the caller can audit the cut
    line."""
    from pyspark.sql.window import Window

    n_tok = F.size(tokens_col())
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return docs.select(
        group_col,
        order_col,
        n_tok.alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "keep", F.col("cum_tokens") <= F.lit(budget_tokens)
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    group_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing bookkeeping: concatenate each group's
    docs (in ``order_col`` order) into one token stream chopped into
    fixed ``seq_len`` windows, and emit every doc's placement — global
    token offset, first/last sequence index, and whether it crosses a
    sequence boundary. Downstream writers materialize sequence shards
    from exactly these spans.

    Same single-window shape as :func:`budget_select`: one exclusive
    running sum over the (group, order) exchange; no self-join, no
    driver loop — the packing of a 10¹²-token corpus is one window
    pass."""
    from pyspark.sql.window import Window

    n_tok = F.size(tokens_col())
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select(group_col, order_col, n_tok.alias("n_tokens"))
        .withColumn("tok_offset", off)
        .withColumn("seq_first", F.floor(F.col("tok_offset") / seq_len))
        .withColumn(
            "seq_last",
            F.floor(
                (F.col("tok_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / seq_len
            ),
        )
        .withColumn("crosses", F.col("seq_last") > F.col("seq_first"))
    )


# cumulative md5-prefix thresholds: membership is a STRING comparison on
# the hex digest, identical in every engine and stable as the corpus
# grows (a doc's split never changes when other docs arrive — the
# property random splits lack)
def hash_split(
    docs: DataFrame,
    fracs: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split:v1",
) -> DataFrame:
    """Deterministic hash split into named buckets (train/val/test …):
    bucket = first cumulative md5-prefix threshold exceeding the doc's
    salted digest. Pure column expressions — no rand(), no shuffle; the
    ``salt`` versions the split (bump it to re-deal)."""
    fracs = fracs or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(fracs.values()) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    digest = F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string")))
    prefix = F.substring(digest, 1, 8)
    expr = None
    cum = 0.0
    items = list(fracs.items())
    for name, frac in items[:-1]:
        cum += frac
        # cum can reach 1.0 mid-list (trailing zero-fraction buckets):
        # int(1.0·16⁸) formats to NINE hex chars, which lexicographically
        # sorts below every 8-char prefix — this bucket must simply take
        # everything remaining instead
        cut_i = int(cum * 16**8)
        cond = F.lit(True) if cut_i >= 16**8 else prefix < F.lit(format(cut_i, "08x"))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.withColumn("split", expr)


def curriculum_buckets(
    scored: DataFrame,
    n_buckets: int = 10,
    score_col: str = "avg_log10p",
    id_col: str = "doc_id",
) -> DataFrame:
    """Difficulty deciles for curriculum ordering: NTILE over the
    quality score (ties broken by id for engine-deterministic bucket
    edges). Standard SQL NTILE fill semantics in both engines.

    Scale note: a single unpartitioned NTILE is a global sort — fine
    for per-snapshot curriculum assignment (one pass, Spark's sort is
    external/distributed); for repeated use at corpus scale compute
    approximate quantile EDGES once and bucket by comparison instead."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col(score_col), F.col(id_col))
    return scored.withColumn("bucket", F.ntile(n_buckets).over(w))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Crawl delta between two keyed snapshots: per-key status
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` — the
    re-crawl planning pass.

    One full-outer shuffle join on the key; only FINGERPRINTS travel
    through the exchange (~32 bytes/doc regardless of page size), so
    the diff of two 100 TB snapshots shuffles gigabytes, not terabytes.
    Presence is tracked with explicit marker columns (not fp NULLness)
    and fingerprints compare null-safely, so a legitimately-NULL fp is
    'unchanged' when it matches, never misread as an add/remove."""
    o = old.select(
        key,
        F.col(fp_col).alias("_fp_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        key,
        F.col(fp_col).alias("_fp_new"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            F.col("_fp_old").eqNullSafe(F.col("_fp_new")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, key, "full_outer")
        .select(key, status.alias("status"))
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased
    text — deterministic, engine-portable (Spark md5 == DuckDB md5)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.sha2(norm, 256).alias("fp_sha256"),
    )


def contamination_flags(
    docs: DataFrame, benchmark: DataFrame, k: int | None = None
) -> DataFrame:
    """Benchmark decontamination — the GPT-3/PaLM training-data rule:
    flag every training doc sharing ANY word k-gram with an evaluation
    benchmark, so eval examples can be dropped from the corpus.

    Scale shape: benchmark corpora are tiny next to a crawl, so the
    DISTINCT benchmark shingle set is the BROADCAST side; doc shingles
    explode map-side and hit-count via broadcast-hash join (only hit
    rows reach the per-doc aggregation). The join BACK onto docs is a
    plain shuffle join: ``hits`` has one row per contaminated doc —
    corpus-scale when contamination is widespread — so it must never be
    forced broadcast (AQE may still choose to when it measures small).

    Output: (doc_id, n_hits, contaminated).
    """
    from .dedup import SHINGLE_WORDS, shingles_df

    k = k or SHINGLE_WORDS
    doc_sh = shingles_df(docs, k, distinct=True)
    bench_sh = shingles_df(benchmark, k, distinct=True).select("shingle").distinct()
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= 1).alias("contaminated"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, fully map-side: distinct
    token ratio and the most-frequent token's share per document.
    The mode count is a max-run-length fold over the SORTED token array
    (one ``aggregate`` HOF, O(n log n) per doc, whole-stage codegen) —
    no explode, no shuffle."""
    toks = tokens_col()
    n_tok = F.size(toks)
    sorted_t = F.array_sort(toks)
    run_state = F.aggregate(
        sorted_t,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(t == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 6
        ).alias("distinct_ratio"),
        F.round(
            run_state.getField("best") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("top_token_frac"),
    )


def char_trigram_lm_scores(docs: DataFrame, smooth: float = 0.5) -> DataFrame:
    """Corpus-self-trained character-trigram LM score per document — the
    cheap KenLM-style gibberish/quality signal: docs whose trigram
    distribution diverges from the corpus (mojibake, binary spew, key
    mashing) score low average log-probability.

    Plan: trigram arrays build MAP-SIDE (sequence+transform HOFs, no
    Python); ONE shuffle aggregates global trigram counts (partial agg
    collapses to ≤ vocab rows per partition map-side). The count table
    is BROADCAST back for scoring — the trigram vocabulary is bounded
    by charset³ (a few MB for web text), so per-doc scoring never
    shuffles trigram rows; the per-doc aggregation's partial step
    collapses each doc to one row before its exchange. Add-k smoothing
    over the observed vocabulary keeps probabilities proper.

    Output: (doc_id, n_tris, avg_log10p) — avg_log10p NULL for docs
    shorter than 3 chars.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    base = docs.select("doc_id", norm.alias("nt"))
    n = F.length("nt")
    tris = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2), lambda i: F.col("nt").substr(i, F.lit(3))
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri_rows = base.select("doc_id", F.explode(tris).alias("tri"))
    counts = tri_rows.groupBy("tri").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("tot"), F.count("*").alias("vocab")
    )
    scored = (
        tri_rows.join(F.broadcast(counts), "tri")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lp",
            F.log10(
                (F.col("c") + F.lit(smooth))
                / (F.col("tot") + F.lit(smooth) * F.col("vocab"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tris"),
            F.round(F.avg("lp"), 6).alias("avg_log10p"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tris", F.lit(0)).alias("n_tris"),
        "avg_log10p",
    )


# PII patterns chosen for identical semantics in Java regex (Spark) and
# RE2 (DuckDB): plain classes + greedy counted repeats, no backrefs
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction for training text: emails then phone-like digit
    runs replaced with typed placeholder tokens; per-doc match counts +
    an md5 of the scrubbed text (compact, hash-comparable — unscathed
    docs keep their original fingerprint). Pure column regexes, no
    Python."""
    emails = F.regexp_count(F.col("text"), F.lit(EMAIL_PATTERN))
    scrub1 = F.regexp_replace(F.col("text"), EMAIL_PATTERN, "[EMAIL]")
    phones = F.regexp_count(scrub1, F.lit(PHONE_PATTERN))
    scrub2 = F.regexp_replace(scrub1, PHONE_PATTERN, "[PHONE]")
    return docs.select(
        "doc_id",
        emails.cast("long").alias("n_emails"),
        phones.cast("long").alias("n_phones"),
        F.md5(scrub2).alias("scrubbed_fp"),
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information over
    the lowercased whitespace-token stream — the phrase-mining pass a
    corpus-analysis stage runs before vocabulary decisions.

    PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) ) with bigram and
    unigram MLE probabilities; ``min_count`` suppresses the unstable
    low-frequency tail. Ordering is on ROUND(pmi, 6) with a (w1, w2)
    tie-break so the oracle ranks identically.

    Scale shape: tokenization and bigram forming are map-side array
    HOFs (zip_with over two slices — no self-join); one shuffle each
    for unigram and bigram counts; the count joins are plain equi
    hash joins on the word keys (vocab is unbounded — never forced
    broadcast); corpus totals are two 1-row aggregates crossJoined
    back (broadcast by construction). Top-k is TakeOrderedAndProject.
    """
    toks_raw = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    t = docs.select(
        F.filter(toks_raw, lambda x: x != F.lit("")).alias("toks")
    )
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    n = F.size(F.col("toks"))
    pair_len = F.greatest(n - F.lit(1), F.lit(0))
    big = (
        t.select(
            F.explode(
                F.zip_with(
                    F.slice("toks", F.lit(1), pair_len),
                    F.slice("toks", F.lit(2), pair_len),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    n1 = uni.agg(F.sum("c1").alias("n1"))
    n2 = big.agg(F.sum("c2").alias("n2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))
    pmi = (
        F.col("c2").cast("double") * F.col("n1") * F.col("n1")
    ) / (F.col("n2").cast("double") * F.col("c1a") * F.col("c1b"))
    return (
        big.filter(F.col("c2") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(n1)
        .crossJoin(n2)
        .select("w1", "w2", "c2", F.round(F.log(pmi), 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a fixed query
    term set and return the global top-k — the lexical half of a
    hybrid (lexical + vector) search stack, next to
    ``similarity.brute_force_topk``.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the non-negative
    Robertson–Spärck Jones form).

    Plan (100 TB shape): the explode is filtered to the query terms
    BEFORE the (doc, term) count, so only matching postings ever enter
    the one tf shuffle — the corpus-scale non-matching vocabulary never
    leaves the map side. Document length is map-side ``F.size`` (no
    second tokenize/shuffle); N + avgdl ride one broadcast 1-row
    aggregate; df comes off the tf table (tiny: ≤ |query| rows after
    its agg) and broadcasts back. Final ranking is
    orderBy().limit() = TakeOrderedAndProject (per-partition top-k +
    driver merge, no global sort). Scores ROUNDED before ranking with a
    doc_id tie-break so rank boundaries are engine-exact.
    """
    qt = [F.lit(t) for t in query_terms]
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(tokens_col())).alias("avgdl"),
    )
    dl = docs.select("doc_id", F.size(tokens_col()).alias("dl"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    term_score = (
        idf
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(stats))
        .join(dl, "doc_id")
        .select("doc_id", term_score.alias("ts"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("ts"), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(top_k)


# --- C4-style line-level boilerplate filtering -------------------------
# Rules after Raffel et al. 2020 (C4, §2.2): keep lines that end in
# terminal punctuation and have >= C4_MIN_WORDS words; drop lines
# mentioning javascript/cookie boilerplate; pages keep only if enough
# lines survive. Operates on a (doc_id, k, line) row table (k = line
# sort key) so callers control line provenance.

C4_MIN_WORDS = 3
C4_MIN_KEPT_LINES = 3
C4_BOILER_MARKERS = ("javascript", "cookie")


def c4_keep_line(line=None):
    """The C4 per-line predicate as a Column (JVM, codegen)."""
    if line is None:
        line = F.col("line")
    n_words = F.size(F.split(line, r" "))
    cond = (n_words >= C4_MIN_WORDS) & line.rlike(r"[.!?\"]$")
    for marker in C4_BOILER_MARKERS:
        cond = cond & ~F.lower(line).contains(marker)
    return cond


def c4_line_filter(lines: DataFrame) -> DataFrame:
    """Rebuild each page from its C4-surviving lines.

    Input: (doc_id, k, line) — one row per line, ``k`` the line order
    key. Output: (doc_id, clean_text, kept_lines, total_lines,
    page_kept) — C4 drops whole pages with too few surviving lines.

    Plan: the per-line predicate is map-side; ONE doc_id groupBy
    carries both the counts and the ordered reassembly (conditional
    aggregates over the same exchange — no second shuffle, no join
    between a kept-agg and a total-agg).
    """
    keep = c4_keep_line()
    return (
        lines.withColumn("__keep", keep)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct("k", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
            F.sum(F.col("__keep").cast("int")).alias("kept_lines"),
            F.count("*").alias("total_lines"),
        )
        .withColumn("page_kept", F.col("kept_lines") >= C4_MIN_KEPT_LINES)
    )


# --------------------------------------------------------------------------
# BPE vocabulary training (Sennrich, Haddow & Birch 2016, "Neural
# Machine Translation of Rare Words with Subword Units")

#: symbols are brace-wrapped units ("{l}{o}{w}{</w>}") so a literal
#: left-to-right replace of "{l}{r}" -> "{lr}" can never span a symbol
#: boundary and adjacent matches never share characters — both engines'
#: ``replace`` are greedy non-overlapping scans, which IS the reference
#: BPE merge-application order ("aaa" + (a,a) -> ["aa","a"])
BPE_EOW = "</w>"


def bpe_words(docs: DataFrame) -> DataFrame:
    """The word-type table BPE trains on: lowercase [a-z]+ tokens with
    corpus frequencies, each rendered as its initial brace-wrapped
    character-symbol sequence plus the end-of-word marker.

    This is the ONLY corpus-scale pass (one tokenize + one word-count
    shuffle); every merge iteration afterwards touches just this
    bounded vocabulary table — the published scalable-BPE shape.
    """
    toks = tokens_col()
    return (
        docs.select(F.explode(toks).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "w",
            "freq",
            F.concat(
                F.regexp_replace(F.col("w"), "(.)", "{$1}"),
                F.lit("{" + BPE_EOW + "}"),
            ).alias("seq"),
        )
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts — map-side
    zip_with over two array slices (no self-join), one (lft,rgt)
    shuffle whose cardinality is bounded by distinct adjacent pairs."""
    words = words.select("freq", "seq")
    parts = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\}\{")
    n = F.size(parts)
    pair_len = F.greatest(n - F.lit(1), F.lit(0))
    return (
        words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(parts, F.lit(1), pair_len),
                    F.slice(parts, F.lit(2), pair_len),
                    lambda a, b: F.struct(a.alias("lft"), b.alias("rgt")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_apply_merge(words: DataFrame, lft: str, rgt: str) -> DataFrame:
    """Apply one merge as a map-side literal replace (see BPE_EOW note
    on why brace-wrapping makes greedy replace exactly reference BPE)."""
    return words.withColumn(
        "seq",
        F.replace(
            F.col("seq"),
            F.lit("{%s}{%s}" % (lft, rgt)),
            F.lit("{%s%s}" % (lft, rgt)),
        ),
    )


def _bpe_iterate(
    docs: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge loop; returns (merge rows, final word-type table)."""
    words = bpe_words(docs).localCheckpoint(eager=True)
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            _bpe_pair_counts(words)
            .orderBy(F.desc("cnt"), "lft", "rgt")
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully merged — stop early
            break
        lft, rgt, cnt = best[0]["lft"], best[0]["rgt"], best[0]["cnt"]
        out.append((step, lft, rgt, int(cnt)))
        words = _bpe_apply_merge(words, lft, rgt)
        if step % 4 == 0:
            words = words.localCheckpoint(eager=True)
    return out, words


def bpe_train(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus and
    return the merge table (merge_rank, lft, rgt, pair_count).

    Each iteration: count frequency-weighted adjacent symbol pairs,
    take the argmax (ties broken count DESC then (lft, rgt) ASC — both
    sides are ASCII, so the string order is engine-portable), and apply
    the merge as ONE map-side literal replace over the word-type table.
    Like PageRank, the driver runs O(n_merges) tiny actions (each
    argmax is a 1-row TakeOrdered); the corpus itself is never
    re-touched after ``bpe_words``.

    Scale shape: at 100 TB the corpus pass is one tokenize+count
    shuffle; the iterated table is the bounded word-type vocabulary
    (~1e7 rows), so each merge costs one small agg + one map — the
    standard distributed-BPE design. Lineage is truncated with
    ``localCheckpoint`` every 4 merges so merge k never replays the
    k chained replaces from scratch.
    """
    out, words = _bpe_iterate(docs, n_merges)
    return local_frame(
        docs.sparkSession,
        out,
        "merge_rank INT, lft STRING, rgt STRING, pair_count BIGINT",
    ).orderBy("merge_rank")


def bpe_vocab_after(docs: DataFrame, n_merges: int = 8, top_k: int = 40) -> DataFrame:
    """Symbol vocabulary (with frequency-weighted counts) after
    ``n_merges`` learned merges — the subword unigram distribution a
    tokenizer-budget decision reads. Top-k by count with a symbol
    tie-break; ranking via TakeOrderedAndProject (no global sort)."""
    _, words = _bpe_iterate(docs, n_merges)
    parts = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\}\{")
    return (
        words.select("freq", F.explode(parts).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "symbol")
        .limit(top_k)
    )

def bpe_encode_counts(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Apply the trained BPE vocabulary to the corpus: per-document
    word and subword counts under the first ``n_merges`` merges.

    The tokenizer is APPLIED BY JOIN, not by re-running merges per
    document: the training loop's final word-type table already holds
    every word's merged symbol sequence, so encoding is one equi join
    of the exploded [a-z]+ token stream against the vocab (corpus-scale
    vocabulary — hash join, never forced broadcast) plus one doc_id
    agg. This is the standard at-scale tokenizer-application shape:
    the expensive merge recursion runs once over word TYPES, documents
    only pay a dictionary lookup per token."""
    _, words = _bpe_iterate(docs, n_merges)
    parts = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), r"\}\{")
    vocab = words.select("w", F.size(parts).alias("n_sub"))
    toks = (
        docs.select("doc_id", F.explode(tokens_col()).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    return (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling")

DSIR_BUCKETS = 1024
DSIR_ALPHA = 0.5
#: fixed-point scale for per-bucket log-ratios: the per-doc score is a
#: SUM of floats whose addition order Spark cannot pin, so each λ_b is
#: quantized to an integer once (one deterministic round) and the doc
#: score becomes an EXACT integer sum — order-free, engine-portable
DSIR_SCALE = 1_000_000


def _dsir_bigram_buckets(docs: DataFrame):
    """(doc_id, bucket) per bigram occurrence — map-side zip_with over
    two token slices, md5-hashed into DSIR_BUCKETS buckets."""
    toks = tokens_col()
    n = F.size(toks)
    pair_len = F.greatest(n - F.lit(1), F.lit(0))
    bg = F.explode(
        F.zip_with(
            F.slice(toks, F.lit(1), pair_len),
            F.slice(toks, F.lit(2), pair_len),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("bg")), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )
    extra = [c for c in docs.columns if c == "__tgt"]
    return docs.select("doc_id", *extra, bg.alias("bg")).select(
        "doc_id", *extra, bucket.alias("bucket")
    )


def dsir_scores(docs: DataFrame, is_target) -> DataFrame:
    """Per-document DSIR importance score: hashed-bigram bag-of-words
    log-likelihood ratio log p_target(doc) − log p_source(doc) under
    Laplace-smoothed bucket unigram models.

    ``is_target`` is a boolean Column selecting the target subset;
    the source model is the WHOLE corpus.

    Scale shape: bigram hashing is map-side; BOTH bucket models ride
    ONE exploded pass (conditional aggregate on the is_target flag), so
    the corpus is scanned exactly twice — once for the ≤ DSIR_BUCKETS-row
    count table (whose 1-row totals come off that same tiny table, not
    another corpus agg) and once for the per-doc reduction, ONE
    doc_id-keyed integer sum with the λ table broadcast back onto it.
    Nothing corpus-scale is ever collected or broadcast.
    """
    feats = _dsir_bigram_buckets(docs.withColumn("__tgt", is_target))
    # materialize the <= DSIR_BUCKETS-row count table once: tots, lam
    # and the broadcast all read the tiny checkpointed RDD instead of
    # re-deriving the corpus agg per branch (AQE cannot ReusedExchange
    # across the broadcast/shuffle boundary here — measured 3 scans
    # without this, 2 with)
    cnts = (
        feats.groupBy("bucket")
        .agg(
            F.count("*").alias("s"),
            F.sum(F.col("__tgt").cast("long")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    tots = cnts.agg(
        F.sum("s").alias("s_tot"), F.sum("t").alias("t_tot")
    )
    ab = float(DSIR_ALPHA * DSIR_BUCKETS)
    lam = cnts.crossJoin(tots).select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("t") + F.lit(DSIR_ALPHA))
                    / (F.col("t_tot") + F.lit(ab))
                )
                - F.log(
                    (F.col("s") + F.lit(DSIR_ALPHA))
                    / (F.col("s_tot") + F.lit(ab))
                )
            )
            * F.lit(DSIR_SCALE),
            0,
        )
        .cast("long")
        .alias("lam_i"),
    )
    return (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lam_i").alias("score_i"))
        .select(
            "doc_id",
            (F.col("score_i").cast("double") / F.lit(float(DSIR_SCALE))).alias(
                "dsir_score"
            ),
        )
    )


def dsir_select(
    docs: DataFrame, is_target, k: int = 50, seed: str = "dsir"
) -> DataFrame:
    """Importance-resample ``k`` documents: Gumbel-top-k on the DSIR
    log-weights (sampling without replacement ∝ importance weight).

    The Gumbel noise is md5-seeded (u = (hash+0.5)/2^32,
    g = −ln(−ln u)) so the draw is deterministic and the oracle
    replays it; the perturbed key is ROUNDed with a doc_id tie-break
    and ranked by TakeOrderedAndProject (no global sort)."""
    scores = dsir_scores(docs, is_target)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    g = -F.log(-F.log(u))
    key = F.round(F.col("dsir_score") + g, 6)
    return (
        scores.select("doc_id", "dsir_score", key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(k)
    )


# --------------------------------------------------------------------------
# corpus mix allocation (water-filling token budgeting)

def mix_allocation(
    per_source: DataFrame, budget: "F.Column | int", weight_col: str = "w"
) -> DataFrame:
    """Allocate a token budget across sources toward target mix weights
    with per-source availability caps — the water-filling step of a
    pretraining data-mix plan (sources short of their target share
    saturate; their shortfall redistributes to the rest ∝ weight).

    Input: one row per source with ``toks`` (available tokens, BIGINT)
    and ``weight_col`` (integer target weight). Closed form instead of
    the iterative redistribution loop: sort by toks/weight ascending —
    saturation is prefix-closed in that order — and mark row j
    saturated iff toks_j·(P−cumP_{j−1}) < w_j·(B−cumT_{j−1}), an
    EXACT integer cross-multiplication (no float in any branch
    decision). The water level λ = (B−cumT_K)/(P−cumP_K) over the
    saturated prefix K is the only float, applied per row.

    Scale shape: the windows run over the per-source table (≤ thousands
    of rows — bounded by distinct sources, never corpus-scale), so the
    single-partition Window is safe by construction; the corpus-scale
    work is whatever aggregation produced ``per_source``.
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("long")
    t = F.col("toks").cast("long")
    tot = per_source.agg(
        F.sum("toks").cast("long").alias("tt"),
        F.sum(weight_col).cast("long").alias("pp"),
    )
    # the signature advertises Column | int — lift a plain int here
    # (withColumn requires a Column; r5 ADVICE item)
    if isinstance(budget, int):
        budget = F.lit(budget)
    d = per_source.crossJoin(tot).withColumn("b", budget)
    order = Window.orderBy((t * F.lit(1.0) / w).asc(), F.col("source"))
    cum_t = F.sum("toks").over(order.rowsBetween(Window.unboundedPreceding, 0))
    cum_p = F.sum(weight_col).over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("cum_t", cum_t.cast("long")).withColumn(
        "cum_p", cum_p.cast("long")
    )
    sat = (
        t * (F.col("pp") - (F.col("cum_p") - w))
        < w * (F.col("b") - (F.col("cum_t") - t))
    ).cast("int")
    d = d.withColumn("run_sat", F.min(sat).over(order))
    glob = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_t_sat = F.max(F.when(F.col("run_sat") == 1, F.col("cum_t"))).over(glob)
    cum_p_sat = F.max(F.when(F.col("run_sat") == 1, F.col("cum_p"))).over(glob)
    lam = (F.col("b") - F.coalesce(cum_t_sat, F.lit(0)).cast("double")) / (
        F.col("pp") - F.coalesce(cum_p_sat, F.lit(0))
    ).cast("double")
    take = F.when(F.col("run_sat") == 1, t.cast("double")).otherwise(w * lam)
    return d.select(
        "source",
        "toks",
        F.col(weight_col).alias("weight"),
        F.col("run_sat").alias("saturated"),
        F.round(take, 4).alias("take_tokens"),
        F.round(take / t, 6).alias("rate"),
    ).orderBy("source")
