"""Web/URL operators for crawl-corpus curation: URL canonicalization,
registered-domain (eTLD+1-style) extraction, and per-domain caps — the
dedup/skew controls a Common-Crawl-scale pipeline applies before any
text processing (same curation stage as the reference's per-source
filtering, ``src/data_engineering/config.json``; crawl-side analogue of
C4/CC-Net URL dedup).

All expressions are built-in ``pyspark.sql.functions`` regex/string ops
(JVM, whole-stage codegen, map-side) — the only shuffle in any operator
here is its final keyed aggregation/window. Each has an exact DuckDB
mirror in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .psl import PSL_2LABEL, PSL_3LABEL, WILDCARD_EXCEPTIONS, WILDCARD_TLDS

_PSL2 = sorted(PSL_2LABEL)
_PSL3 = sorted(PSL_3LABEL)
_WILD = sorted(WILDCARD_TLDS)
_EXC = sorted(WILDCARD_EXCEPTIONS)

# tracking params stripped by canonicalization (the utm_*/ref junk that
# makes byte-identical pages look like distinct URLs). The param name is
# ANCHORED to a preceding ?/& (kept via the capture group — RE2 has no
# lookbehind) so names merely ENDING in 'ref'/'utm_x' (href, xref) are
# never corrupted; the + quantifier consumes ADJACENT junk params in one
# match, since after '?utm_a=1&' is consumed a following 'ref=2' has no
# separator left to anchor on.
JUNK_PARAM_PATTERN = r"([?&])((?:utm_[a-z]+|ref)=[^&#]*&?)+"


def url_host(url: Column | str) -> Column:
    """Lowercased hostname: scheme and any ``user:pass@`` userinfo
    stripped, and the host ends at the first ``:`` (port), ``/``, ``?``
    or ``#`` — mirroring ``extract/html.py``'s ``_HOST_RE`` semantics,
    so ``example.com`` and ``example.com:80`` share one host (and one
    canonical-URL/domain key)."""
    u = F.col(url) if isinstance(url, str) else url
    s1 = F.regexp_replace(u, r"^https?://", "")
    return F.lower(F.regexp_extract(s1, r"^(?:[^/?#@]*@)?([^/:?#]+)", 1))


def url_canonical(url: Column | str) -> Column:
    """Canonical URL for dedup keys: drop scheme, lowercase host, strip
    userinfo and the port (``example.com`` ≡ ``example.com:80``), strip
    a leading www./m. subdomain, drop the fragment, remove tracking
    params (``utm_*``, ``ref``), trim dangling ``?``/``&`` and trailing
    slashes. Pure string expression — canonicalization is map-side and
    the dedup groupBy shuffles only the canonical key."""
    u = F.col(url) if isinstance(url, str) else url
    s1 = F.regexp_replace(u, r"^https?://", "")
    host = F.regexp_replace(url_host(s1), r"^(www|m)\.", "")
    rest = F.regexp_replace(s1, r"^[^/?#]+", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    rest = F.regexp_replace(rest, JUNK_PARAM_PATTERN, "$1")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/+$", "")
    return F.concat(host, rest)


def registered_domain(url: Column | str) -> Column:
    """Registrable domain (eTLD+1) of the URL's host under the vendored
    public-suffix-list snapshot (``psl.py`` — PSL semantics: longest
    matching suffix wins, ``*.tld`` wildcards with ``!`` exceptions,
    implicit ``*`` fallback for unknown TLDs).

    Compiled to a pure column expression: the suffix sets become
    Catalyst ``InSet`` literals (O(1) JVM hash probe per row, map-side,
    whole-stage codegen) — no broadcast join, no shuffle, no Python, so
    the skew map / dedup keys stay free at 100 TB. The DuckDB oracle
    inlines the SAME sets via ``psl.domain_case_sql`` — single source
    of truth, the two engines cannot drift."""
    host = url_host(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last1 = F.element_at(parts, -1)
    last2 = F.array_join(F.slice(parts, -2, 2), ".")
    last3 = F.array_join(F.slice(parts, -3, 3), ".")
    last4 = F.array_join(F.slice(parts, -4, 4), ".")
    return (
        F.when(n <= 1, host)
        .when((n >= 4) & last3.isin(_PSL3), last4)
        .when((n >= 3) & last2.isin(_PSL2), last3)
        .when(last1.isin(_WILD) & last2.isin(_EXC), last2)
        .when((n >= 3) & last1.isin(_WILD), last3)
        .otherwise(last2)
    )


def url_dedup_groups(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Exact dedup by canonical URL: one row per canonical key with the
    variant count, the canonical representative (min doc_id), and the
    number of DISTINCT raw spellings collapsed. One shuffle on the
    canonical key."""
    return (
        pages.withColumn("canonical_url", url_canonical(url_col))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("canonical_doc"),
            F.countDistinct(url_col).alias("n_spellings"),
        )
    )


def domain_stats(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-registered-domain corpus report: doc and distinct-host
    counts plus mean text length — the skew map that decides which
    domains need capping/salting. One shuffle on the domain key."""
    return (
        pages.withColumn("domain", registered_domain(url_col))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(url_host(url_col)).alias("n_hosts"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
    )


def extract_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Anchor-href edge list (src_url, dst_url) from page content — the
    link-graph ingest step feeding PageRank/authority scoring (crawl
    analogue of the reference's layer-derivation scans).

    Entirely JVM-side: ``regexp_extract_all`` pulls every
    ``href="..."`` in one codegen'd pass (the payload never crosses
    Arrow — same design as the flagship's JVM-side coordinate regexes),
    then URL resolution is a CASE: absolute http(s) hrefs pass through,
    root-relative ``/path`` hrefs resolve against the source's
    scheme+host, everything else (mailto:, javascript:, fragments,
    non-rooted relatives) is dropped. Map-side only — no shuffle; pass
    a decoded STRING html column (cast/decode binary payloads first)."""
    base = F.regexp_extract(F.col(url_col), r"^(https?://[^/?#]+)", 1)
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(r'href="([^"]*)"'), 1)
    e = pages.select(
        F.col(url_col).alias("src_url"),
        base.alias("_base"),
        F.explode(hrefs).alias("href"),
    )
    dst = (
        F.when(F.col("href").rlike("^https?://"), F.col("href"))
        .when(F.col("href").startswith("/"), F.concat(F.col("_base"), F.col("href")))
        .otherwise(F.lit(None))
    )
    return e.select("src_url", dst.alias("dst_url")).filter(
        F.col("dst_url").isNotNull()
    )


def robots_decisions(
    pages: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Robots-exclusion decisions per distinct URL: ``rules`` is the
    parsed robots corpus (host string, prefix string, allow boolean —
    one row per Allow/Disallow line). Standard precedence (RFC 9309 /
    Googlebot): the LONGEST matching path prefix wins, Allow wins exact
    length ties, and a URL with no matching rule is allowed. Wildcard
    patterns are out of scope (prefix rules only).

    Shape for 10¹²-page corpora: distinct URLs (one shuffle) are
    broadcast-joined against the rules corpus (robots files are small
    next to pages), and the winning rule per URL is a groupBy
    max(struct(len, allow)) — no window sort, no page payload carried
    through the match. Returns (url, allowed, matched_prefix); callers
    left-semi join the allowed set back onto the full rows."""
    u = pages.select(F.col(url_col).alias("url")).distinct()
    u = u.select(
        "url",
        url_host("url").alias("_host"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), r"^https?://", ""),
                r"^[^/?#]+",
                "",
            ),
            r"#.*$",
            "",
        ).alias("_path"),
    )
    r = rules.select(
        F.col("host").alias("_rhost"), "prefix", F.col("allow").alias("_allow")
    )
    cand = u.join(
        F.broadcast(r),
        (F.col("_rhost") == F.col("_host"))
        & F.col("_path").startswith(F.col("prefix")),
        "left",
    )
    best = cand.groupBy("url").agg(
        F.max(
            F.when(
                F.col("prefix").isNotNull(),
                F.struct(
                    F.length("prefix").alias("l"),
                    F.col("_allow").alias("a"),
                    F.col("prefix").alias("p"),
                ),
            )
        ).alias("best")
    )
    return best.select(
        "url",
        F.coalesce(F.col("best.a"), F.lit(True)).alias("allowed"),
        F.col("best.p").alias("matched_prefix"),
    )


def robots_filter(
    pages: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Keep only robots-allowed pages: decisions computed on distinct
    URLs, allowed set left-semi joined back (page payload never enters
    the rule match)."""
    allowed = robots_decisions(pages, rules, url_col).filter("allowed")
    return pages.join(
        allowed.select(F.col("url").alias(url_col)), url_col, "left_semi"
    )


def domain_rank_flags(pages: DataFrame, k: int, url_col: str = "url") -> DataFrame:
    """Audit variant of the hot-domain cap: EVERY row comes back with
    its within-domain rank (length desc, doc_id tie-break) and a
    ``kept`` flag. Because all rows are emitted, each domain's full row
    set flows through the window sort — use ``cap_per_domain`` for the
    actual skew control; this form is for cap-effect reporting."""
    w = Window.partitionBy("domain").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    return (
        pages.withColumn("domain", registered_domain(url_col))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("kept", F.col("rk") <= k)
    )


def cap_per_domain(pages: DataFrame, k: int, url_col: str = "url") -> DataFrame:
    """Hot-domain cap: keep at most ``k`` docs per registered domain,
    preferring longer documents (rank by length desc, doc_id as the
    deterministic tie-break). The standard crawl-skew control — a
    single analytic window per domain partition, and because the
    ``rk <= k`` filter is applied HERE, Spark's InferWindowGroupLimit
    pushes a partial limit below the exchange (plan-asserted), so no
    hot domain's full row set is ever buffered through the sort."""
    return domain_rank_flags(pages, k, url_col).filter(F.col("rk") <= k).drop(
        "kept"
    )


def crawl_schedule(
    pages: DataFrame,
    delay_s: int = 2,
    n_workers: int = 8,
    url_col: str = "url",
    order_col: str = "doc_id",
) -> DataFrame:
    """Politeness-aware fetch scheduling for a crawl frontier: every
    registered domain's fetches are serialized ``delay_s`` seconds
    apart (rank · delay), and each domain is PINNED to one of
    ``n_workers`` fetcher slots by an md5-derived engine-portable hash
    — domain affinity is what lets each worker enforce the per-domain
    delay locally, with no cross-worker coordination (the standard
    frontier design: Mercator / Heritrix queue assignment).

    Priority within a domain is length-desc with an ``order_col``
    tie-break (same ordering contract as ``cap_per_domain``).  One
    window exchange on the domain key; the worker assignment and
    offsets are map-side arithmetic.  Politeness is per-domain: two
    domains on the same worker may share an offset — workers interleave
    them, they only ever serialize fetches WITHIN a domain."""
    w = Window.partitionBy("domain").orderBy(
        F.desc(F.length("text")), F.asc(order_col)
    )
    worker = (
        F.conv(F.substring(F.md5(F.col("domain")), 1, 8), 16, 10).cast(
            "long"
        )
        % n_workers
    )
    return (
        pages.withColumn("domain", registered_domain(url_col))
        .withColumn("rk", F.row_number().over(w))
        .select(
            order_col,
            "domain",
            worker.alias("worker"),
            "rk",
            ((F.col("rk") - 1) * delay_s).alias("fetch_offset_s"),
        )
    )
