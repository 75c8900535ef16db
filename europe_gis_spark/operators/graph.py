"""Iterative graph operators over edge DataFrames (link-graph layer of
a crawl pipeline: PageRank-style authority scoring feeds the same
corpus-selection stage as the quality scores in textops).

Each iteration is a few node-keyed shuffles (joins, aggregations,
window mins), lineage truncated per round with ``localCheckpoint`` so
round N never replays rounds 1..N−1. At corpus scale both sides
hash-partition on the node key; no driver-side state beyond one scalar
(the dangling-mass sum, the convergence count) per iteration. :func:`cc_star` is the engine's one
connected-components operator (dedup clusters, polygonize merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


#: above this node count the per-round rank snapshot moves from
#: executor-memory ``localCheckpoint`` to reliable disk ``checkpoint``
#: — RDDs of 10^10 ranks won't stay memory-resident on real clusters,
#: and a lost executor would otherwise force a full-lineage replay
DISK_CHECKPOINT_NODES = 50_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float | None = None,
    disk_checkpoint_nodes: int = DISK_CHECKPOINT_NODES,
) -> DataFrame:
    """PageRank with a FIXED iteration count (deterministic — oracle-
    checkable against the same unrolled recurrence), uniform dangling-
    mass redistribution, self-loops and duplicate edges removed.

    Per iteration: contrib(dst) = Σ_{src→dst} pr(src)/outdeg(src) is a
    src-keyed broadcast-free hash join + dst-keyed aggregation; the
    dangling mass is ONE scalar aggregate joined back via a 1-row
    crossJoin (broadcast by construction). Returns (node, pr) with pr
    summing to 1 over the node universe src ∪ dst.

    Convergence mode: with ``tol`` set, iteration stops early once the
    L1 rank delta Σ|pr_new − pr_old| falls below ``tol`` (one extra
    scalar aggregate per round — cheap next to the contribution join);
    ``iters`` becomes the maximum, and exhausting it without reaching
    ``tol`` raises loudly (same non-convergence contract as
    :func:`cc_star`).

    Lineage: ranks are re-checkpointed each round so round N never
    replays rounds 1..N−1. Below ``disk_checkpoint_nodes`` that is an
    eager ``localCheckpoint`` (executor memory); above it the snapshot
    goes to the RELIABLE checkpoint directory — 10^10-node rank RDDs
    neither fit in executor memory nor should vanish with one lost
    executor (sets a spark.sql.warehouse-adjacent default checkpoint
    dir if none is configured).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    spark = edges.sparkSession
    use_disk = n_nodes > disk_checkpoint_nodes
    if use_disk and spark.sparkContext.getCheckpointDir() is None:
        import os
        import tempfile

        spark.sparkContext.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), "egs_pagerank_ckpt")
        )

    def _snapshot(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if use_disk else df.localCheckpoint(
            eager=True
        )
    if n_nodes == 0:
        # empty graph (no edges, or self-loops only): empty result with
        # the right schema, not a ZeroDivisionError
        return nodes.select("node", F.lit(0.0).alias("pr"))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    base = (1.0 - damping) / n_nodes
    for _ in range(iters):
        with_deg = ranks.join(deg, ranks.node == deg.src, "left")
        contrib = (
            e.join(
                with_deg.filter(F.col("outdeg").isNotNull()).select(
                    "node", (F.col("pr") / F.col("outdeg")).alias("share")
                ),
                e.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
        )
        new_ranks = _snapshot(
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.lit(float(n_nodes))
                    )
                ).alias("pr"),
            )
        )
        if tol is not None:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "node")
                .agg(
                    F.sum(F.abs(F.col("n.pr") - F.col("o.pr"))).alias("d")
                )
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta < tol:
                return ranks
        else:
            ranks = new_ranks
    if tol is not None:
        raise RuntimeError(
            f"pagerank did not reach tol={tol} within {iters} iterations"
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    simple graph of ``edges`` (direction, duplicates and self-loops
    ignored) — the local-clustering signal a link-graph curation stage
    uses alongside PageRank (spam farms: high degree, no closure).

    Shape for scale — degree-ordered wedge enumeration, the standard
    distributed bound: each canonical edge is ORIENTED from its lower-
    (degree, node)-ranked endpoint, so every triangle is found exactly
    once at its minimum-rank apex and the wedge self-join fans out by
    ORIENTED out-degree (O(sqrt E) max after orientation, vs raw max
    degree without it — the hub-killer at crawl scale). All joins are
    equi hash joins on node / (u,v) keys; no cartesian anywhere. The
    closure probe joins back to the canonical edge set on the composite
    key. Returns (node, n_triangles) over the full node universe,
    zeros included.
    """
    und = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds 4 plan branches: scan once
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge low-rank -> high-rank, rank = (deg, node)
    du, dv = [
        deg.select(
            F.col("node").alias(c), F.col("deg").alias(f"deg_{c}")
        )
        for c in ("u", "v")
    ]
    ranked = und.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # wedges at apex a; {b,c} deduped by node id; closure edge (b,c)
    # is canonical (b<c) so it probes `und` directly on the edge key
    o1 = oriented.select(F.col("a"), F.col("b"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("c"))
    tri = (
        o1.join(o2, "a")
        .filter(F.col("b") < F.col("c"))
        .join(
            und,
            (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")),
            "inner",
        )
        .select("a", "b", "c")
    )
    credits = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    ).groupBy("node").agg(F.count("*").alias("_n"))
    nodes = deg.select("node")
    return nodes.join(credits, "node", "left").select(
        "node", F.coalesce("_n", F.lit(0)).alias("n_triangles")
    )


def pagerank_topk(
    edges: DataFrame,
    k: int = 10,
    round_to: int = 6,
    **kwargs,
) -> DataFrame:
    """The deliverable form of authority scoring: the ``k`` highest-
    ranked nodes. Global top-k by rounded rank with a node tie-break —
    Spark executes orderBy().limit() as TakeOrderedAndProject (per-
    partition heap + driver merge of k rows, never a full sort
    shuffle). Ordering on ROUND(pr, round_to) absorbs last-ulp float
    jitter between engines so the DuckDB oracle is exact."""
    pr = pagerank(edges, **kwargs)
    return (
        pr.select("node", F.round("pr", round_to).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(k)
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    disk_checkpoint_nodes: int = DISK_CHECKPOINT_NODES,
) -> DataFrame:
    """Kleinberg HITS hubs-and-authorities with a FIXED iteration
    count and L1 normalization after each half-step (deterministic —
    the oracle unrolls the identical recurrence). Complements
    PageRank: authorities are pointed AT by good hubs, hubs point TO
    good authorities — the directory-page vs content-page split a
    crawl-curation stage uses.

    Per half-step: one edge⋈score hash join + one node-keyed agg; the
    L1 total is a 1-row aggregate crossJoined back (broadcast by
    construction). Nodes without out-edges get hub 0, without
    in-edges authority 0. Lineage is truncated per round exactly like
    ``pagerank``.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    if iters < 1:
        raise ValueError("hits requires iters >= 1")
    # same snapshot policy as pagerank: 10^10-score RDDs go to the
    # reliable checkpoint dir, not executor memory
    spark = edges.sparkSession
    use_disk = n_nodes > disk_checkpoint_nodes
    if use_disk and spark.sparkContext.getCheckpointDir() is None:
        import os
        import tempfile

        spark.sparkContext.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), "egs_pagerank_ckpt")
        )

    def _snapshot(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if use_disk else df.localCheckpoint(
            eager=True
        )
    auth = nodes.select("node", F.lit(1.0).alias("a"))
    hub = None
    for _ in range(iters):
        h_raw = (
            e.join(auth, e.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("a").alias("v"))
        )
        h_tot = h_raw.agg(F.sum("v").alias("s"))
        hub = (
            nodes.join(h_raw, nodes.node == h_raw.src, "left")
            .crossJoin(h_tot)
            .select(
                "node",
                (F.coalesce("v", F.lit(0.0)) / F.col("s")).alias("h"),
            )
        )
        # only auth carries across rounds — hub's lineage is bounded
        # (one half-step off the checkpointed auth), so snapshotting
        # auth alone halves the blocking jobs per iteration
        a_raw = (
            e.join(hub, e.src == hub.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("v"))
        )
        a_tot = a_raw.agg(F.sum("v").alias("s"))
        auth = (
            nodes.join(a_raw, nodes.node == a_raw.dst, "left")
            .crossJoin(a_tot)
            .select(
                "node",
                (F.coalesce("v", F.lit(0.0)) / F.col("s")).alias("a"),
            )
        )
        auth = _snapshot(auth)
    return (
        hub.join(auth, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("auth"))
    )


def shortest_hops(
    edges: DataFrame,
    source: int,
    max_iters: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed BFS hop distance from ``source`` — frontier expansion,
    the crawl-depth / link-distance primitive. Returns (node, hop) for
    REACHABLE nodes only.

    Per round: ONE frontier⋈edges hash join + an anti-join against the
    settled set, both keyed on node; the settled set re-checkpoints per
    round (same lineage policy as ``pagerank``/``cc_star``).
    O(diameter) blocking rounds — the standard distributed-BFS shape;
    label-correcting variants trade that for more shuffled volume.
    Exhausting ``max_iters`` with a non-empty frontier raises loudly
    (same non-convergence contract as ``cc_star``).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(source, 0)], schema="node long, hop int"
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for i in range(1, max_iters + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.rdd.isEmpty():
            return dist
        dist = dist.union(
            nxt.select("node", F.lit(i).cast("int").alias("hop"))
        ).localCheckpoint(eager=True)
        frontier = nxt
    raise RuntimeError(
        f"shortest_hops frontier still non-empty after {max_iters} rounds"
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: list,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport goes to the
    SEED set instead of uniformly — rank mass measures proximity to
    the seeds, the crawl-curation primitive for 'pages like these'.
    Fixed iterations, deterministic; dangling mass also restarts at
    the seeds (standard PPR). Same per-round join+agg+checkpoint shape
    as ``pagerank``; kept separate so the uniform path's pinned float
    expression order is untouched.
    """
    if not seeds:
        raise ValueError("pagerank_personalized requires a non-empty seed set")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes.count() == 0:
        return nodes.select("node", F.lit(0.0).alias("pr"))
    rst = F.when(
        F.col("node").isin([int(s) for s in seeds]),
        F.lit(1.0 / len(seeds)),
    ).otherwise(F.lit(0.0))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.select("node", rst.alias("pr"))
    for _ in range(iters):
        with_deg = ranks.join(deg, ranks.node == deg.src, "left")
        contrib = (
            e.join(
                with_deg.filter(F.col("outdeg").isNotNull()).select(
                    "node", (F.col("pr") / F.col("outdeg")).alias("share")
                ),
                e.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * rst
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") * rst
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def cc_star(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): O(log n) rounds, independent of component
    diameter — a 10^6-node path component needs ~20 star rounds, not
    the ~10^6 of min-label propagation.

    large-star hangs every strictly-larger neighbor of u onto
    m = min(N(u) ∪ {u}); small-star (on the (big → small)-oriented
    result) hangs u and its smaller neighbors onto their minimum. Each
    half-round is one node-keyed window min — one shuffle, where an
    aggregate + join back would take two or three — and a distinct ends
    the round; no driver-side state. Both steps preserve connectivity
    and every edge points from the larger node to the smaller, so once
    the edge set is a star forest (no node both a child and a parent,
    no child with two parents) each star is one whole component centred
    on its minimum: that test is the round's one ``limit(1).count()``.
    The input is read once (one eager checkpoint of the projected edge
    list) and lineage is truncated per round like :func:`pagerank`.

    Node keys may be of any orderable type (the polygonize merge uses
    zero-padded strings). Returns (node, component) for every node
    incident to an edge, component = min reachable node. Raises if not
    converged in ``max_rounds`` (log2 of the node count plus slack is
    enough).
    """
    raw = edges.select(
        F.col(a_col).alias("x"), F.col(b_col).alias("y")
    ).localCheckpoint(eager=True)
    universe = (
        raw.select(F.col("x").alias("node"))
        .union(raw.select(F.col("y").alias("node")))
        .distinct()
    )
    # duplicates are harmless here: every step below takes a min per
    # node, and each round's output is distinct
    e = raw.filter(F.col("x") != F.col("y")).select(
        F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
    )
    by_u = Window.partitionBy("u")
    for _ in range(max_rounds):
        # large-star over the full (undirected) neighborhood
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            und.select(
                "u", "v", F.least(F.min("v").over(by_u), "u").alias("m")
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star on the (big → small)-oriented large-star output
        with_min = large.select("u", "v", F.min("v").over(by_u).alias("m"))
        e = (
            with_min.select(F.col("v").alias("n"), F.col("m"))
            .union(with_min.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # star-forest test: per node, its parent count (e is distinct)
        # and whether it is anyone's parent
        roles = e.select(
            F.col("u").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
        ).union(e.select(F.col("v").alias("n"), F.lit(0), F.lit(1)))
        not_star = (
            roles.groupBy("n")
            .agg(F.sum("c").alias("c"), F.max("p").alias("p"))
            .filter((F.col("c") > 1) | ((F.col("c") > 0) & (F.col("p") > 0)))
        )
        if not_star.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"cc_star did not converge in {max_rounds} rounds — raise "
            "max_rounds (log2(nodes) + slack is sufficient)"
        )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return universe.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) made fully deterministic: over the undirected simple
    graph, every round EVERY node adopts the smallest label among
    those of maximal frequency in its neighborhood (ties: min label —
    the random pick in the paper is replaced by a total order so the
    result is engine-reproducible and an unrolled oracle can state
    it). FIXED round budget: synchronous LPA can oscillate on
    bipartite structure, so a fixed count is both the deterministic
    choice and the oracle-checkable one — the result is whatever
    state round N reaches, exactly.

    Per round: one node-keyed edge⋈label join, one (node, label)
    count, one argmax-pick agg (min over (-cnt, label) structs — all
    integer arithmetic, no floats anywhere); lineage truncated per
    round like ``pagerank``. Returns (node, label)."""
    a, b = F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    und = (
        edges.select(a, b)
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        nb = und.join(labels, und["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label"
        )
        cnt = nb.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("label").alias("lbl"),
                    )
                ).alias("pick")
            )
            .select("node", F.col("pick.lbl").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def random_walks(
    edges: DataFrame,
    walk_len: int = 8,
    walks_per_node: int = 1,
    seed: str = "rw:v1",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (walks become
    skip-gram training sequences for node embeddings), with a
    HASH-DETERMINISTIC choice function instead of rand(): the step-t
    transition out of node u on walk (start, rep) picks neighbor index
    md5(seed|start|rep|t|u) mod outdeg(u) over the SORTED neighbor
    array — engine-portable (the DuckDB oracle replays the identical
    arithmetic), reproducible across retries/speculative tasks (a
    rand() walk is not), and still uniform per step.

    Plan shape: the adjacency builds ONCE as (node, sorted nbr array)
    — one groupBy — then the whole walk is a SINGLE declarative plan:
    ``walk_len`` chained node-keyed joins with the path accumulated in
    an array column (no driver action between steps, no O(len²)
    recompute, Catalyst/AQE sees the full chain). Dangling nodes hold
    in place (documented choice). Walks start from every node with
    ≥1 out-edge.

    Returns (start, rep, step, node) — step 0 is the start itself.
    """
    adj = (
        edges.select(
            F.col(src_col).cast("long").alias("node"),
            F.col(dst_col).cast("long").alias("nbr"),
        )
        .distinct()
        .groupBy("node")
        .agg(F.array_sort(F.collect_list("nbr")).alias("nbrs"))
    )
    state = (
        adj.select("node")
        .withColumn(
            "rep",
            F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)])),
        )
        .select(
            F.col("node").alias("start"),
            "rep",
            F.col("node").alias("cur"),
            F.array(F.col("node")).alias("path"),
        )
    )
    for t in range(1, walk_len + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col("start"),
                        F.col("rep"),
                        F.lit(t),
                        F.col("cur"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        nxt = F.when(
            F.col("nbrs").isNotNull(),
            F.element_at("nbrs", ((h % F.size("nbrs")) + 1).cast("int")),
        ).otherwise(F.col("cur"))
        state = state.join(adj, state.cur == adj.node, "left").select(
            "start",
            "rep",
            nxt.alias("cur"),
            F.concat("path", F.array(nxt)).alias("path"),
        )
    return state.select(
        "start", "rep", F.posexplode("path").alias("step", "node")
    )
