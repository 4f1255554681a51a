"""Connected components over a pair graph — the clustering step of
near-duplicate deduplication.

Pair generators (MinHash-LSH, SimHash Hamming ball, embedding cosine)
emit EDGES; a training-data pipeline needs the transitive CLUSTERS (doc
A ~ B, B ~ C ⟹ {A,B,C} is one duplicate group keeping one
representative). The reference's analog is the global duplicate merge
(/root/reference/src/merge_duplicate_seq.py:20-85), which is
transitive only because it merges on exact keys; near-dup clusters
genuinely need the graph closure.

Algorithm: iterative min-label propagation (each node adopts the
minimum label in its closed neighborhood) PLUS a pointer-halving
shortcut each round (label ← label(label), the classic union-find
path compression expressed as a labels-side self-join). Neighbor
propagation alone moves the minimum one hop per round — O(component
diameter) rounds, which genuinely diverges on chain-shaped duplicate
clusters (A~B~C~…); the shortcut squares the pointer every round, so
convergence is O(log diameter) while the per-round cost stays ONE
edge-table shuffle + one labels-sized self-join (the large-star/
small-star variant of Kiveris et al. achieves the same bound but
reshapes — and can temporarily double — the edge list itself; for
dedup graphs, whose components are near-cliques around shared
shingle buckets, the label table is much smaller than the edges).

Scale notes: every iteration is ONE shuffle of the (deduplicated,
symmetrized) edge list joined against the label table, both
partitioned on the join key, plus a broadcast-sized changed-count
action for the convergence test. Lineage is truncated with
localCheckpoint each iteration — an unbounded iterative plan would
otherwise grow exponentially and re-execute all prior rounds. This is
one of the sanctioned driver-side loops (iterative algorithm; the
loop count is data-bounded at max_iter, not data-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the
    minimum node id reachable from it. Returns (id, component) — one
    row per node that appears in at least one edge; component ids are
    therefore deterministic (min member id), engine-portable, and
    independent of partitioning/iteration order."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer halving: label ← label(label). Labels only ever
        # shrink (label(x) <= x), so the lookup result is already the
        # smaller one; coalesce covers labels that are roots
        shortcut = stepped.select(
            F.col("id").alias("label"), F.col("label").alias("label2")
        )
        new_labels = (
            stepped.join(shortcut, "label", "left")
            .select("id", F.coalesce("label2", "label").alias("label"))
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .where(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # labels were still changing at max_iter: the returned components
        # are split along unconverged chains. Fail loudly — a silent
        # truncation would under-merge duplicate clusters.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations (component diameter exceeds the budget); raise max_iter."
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_cluster_representatives(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pair list → (doc_id, cluster_rep, cluster_size): the
    transitive duplicate groups with their min-id representative. Docs
    in no pair are their own singleton cluster and are omitted (join
    the source table with a coalesce to re-attach them — keeps this
    operator proportional to the duplicate surface, not the corpus)."""
    comp = connected_components(pairs, id_a, id_b)
    size = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(size, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the other
    classic iterative-join graph kernel next to connected_components
    (duplicate-graph authority, link-spam scoring, citation weighting
    in a curation pipeline). Returns (id, rank) with ranks summing to
    the node count's probability mass (sum = 1.0) under the standard
    "dangling mass redistributed uniformly" treatment.

    Scale shape per iteration: out-degree is joined ONCE up front
    (static, cached); each round is one shuffle of the edge list
    against the rank table on src plus a dst-keyed aggregation —
    both AQE-sizable — and a 1-row dangling-mass aggregate that
    broadcasts back into the teleport term. Lineage is truncated with
    a LAZY localCheckpoint per round — the connected_components
    discipline, but deferred: no per-round action, so one final action
    executes the chain and each round's partitions checkpoint as they
    stream past (measured ~30% faster than eager per-round
    materialization at 600k edges x 8 rounds; CC keeps eager because
    its convergence test forces an action every round anyway). A fixed
    ``n_iter`` keeps the driver loop data-independent."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # static contribution structure: (src, dst, 1/deg), cached once —
    # populated lazily on first use inside the final materializing
    # action (an up-front count() here would be a wasted extra job)
    contrib_edges = e.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    contrib_edges.persist()
    try:
        ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
        for _ in range(n_iter):
            flow = (
                contrib_edges.join(
                    ranks.withColumnRenamed("id", "src"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("w") * F.col("rank")).alias("inflow"))
            )
            # dangling nodes (no out-edges) leak their mass; total
            # retained inflow lets us redistribute the remainder
            # uniformly without a nodes-sized anti join
            total_inflow = flow.agg(F.sum("inflow").alias("t"))
            ranks = (
                nodes.join(flow, "id", "left")
                .crossJoin(F.broadcast(total_inflow))
                .select(
                    "id",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("inflow"), F.lit(0.0))
                            + (F.lit(1.0) - F.col("t")) / n
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        # materialize HERE (the one action that executes the whole
        # lazy-checkpoint chain) so the finally's unpersist cannot run
        # before the cache is ever used — returning the lazy frame and
        # unpersisting would silently recompute contrib_edges in every
        # round when the caller finally acts
        return ranks.localCheckpoint(eager=True)
    finally:
        contrib_edges.unpersist()


def pagerank_micro(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    n_iter: int = 6,
    precision: int = 10**12,
    materialize: bool = True,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Deterministic fixed-point PageRank: ranks as exact BIGINT
    micro-units (``precision`` total probability mass) with every
    update in pure integer arithmetic — contributions are
    ``rank div out_deg``, the damped update is
    ``teleport + (damping_pct * (inflow + dangling_share)) div 100``.
    Returns (id, rank_micro).

    Why a fixed-point variant exists next to :func:`pagerank`: float
    power iteration is not reproducible — partial-aggregation order
    changes the low bits run to run and engine to engine, so a float
    PageRank can never be value-checked against an independent
    reference, and at 1000 executors two runs of the same job disagree.
    Integer micro-units make every iteration an exact, commutative
    bigint sum: same answer on any partitioning, any engine — the
    registered query replays all iterations in DuckDB and matches
    hash-for-hash. Truncation loses <1 micro-unit per edge per round
    (bounded mass leak, deterministic), which tests pin to ~1e-6 of
    the float reference.

    Scale shape matches :func:`pagerank`: static (src, dst, out_deg)
    edge table cached once; per round ONE src-keyed shuffle join + one
    dst-keyed exact bigint aggregation + a 1-row dangling-mass
    broadcast; lineage truncated with a lazy localCheckpoint per
    round.

    ``materialize=False`` returns the LAZY frame with the edge cache
    still registered (the caller's next action executes the chain;
    clear with spark.catalog.clearCache()) — for harnesses that time
    execution separately from plan construction, where the default
    in-function eager checkpoint would move all the work outside the
    timed region."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0).cast("long").alias("rank_micro"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src")
    ed.persist()
    init = precision // n
    teleport = ((100 - damping_pct) * init) // 100
    try:
        ranks = nodes.select("id", F.lit(init).cast("long").alias("r"))
        for _ in range(n_iter):
            inflow = (
                ed.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.expr("r div deg")).alias("inflow"))
            )
            dangling = (
                ranks.join(deg.withColumnRenamed("src", "id"), "id", "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
            )
            ranks = (
                nodes.join(inflow, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "id",
                    (
                        F.lit(teleport).cast("long")
                        + F.expr(
                            f"({damping_pct} * (coalesce(inflow, 0)"
                            f" + (dm div {n}))) div 100"
                        )
                    ).cast("long").alias("r"),
                )
            )
            if truncate_lineage:
                # lazy lineage cut per round (the pagerank/CC
                # discipline); disable only to INSPECT the full
                # multi-round plan (tests/test_plans.py)
                ranks = ranks.localCheckpoint(eager=False)
        out = ranks.select("id", F.col("r").alias("rank_micro"))
        if not materialize:
            return out  # caller acts; edge cache stays (clearCache())
        return out.localCheckpoint(eager=True)
    finally:
        if materialize:
            ed.unpersist()


def pagerank_micro_oracle_sql(
    edges_cte: str,
    damping_pct: int = 85,
    n_iter: int = 6,
    precision: int = 10**12,
) -> str:
    """Unrolled-iteration DuckDB replay of :func:`pagerank_micro`:
    ``edges_cte`` must define a relation ``edges(src, dst)`` (already
    distinct). Every operation is BIGINT arithmetic identical to the
    Spark side, so the result is exact — no recursion needed because
    ``n_iter`` is a fixed plan parameter, not data."""
    parts = [
        edges_cte,
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges"
        " UNION ALL SELECT dst AS id FROM edges))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src))",
        f"r0 AS (SELECT id, {precision} // n AS r FROM nodes, nn)",
    ]
    dp = damping_pct
    tele = f"(({100 - dp} * ({precision} // nn.n)) // 100)"
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f"c{i} AS (SELECT e.dst AS id, sum(r.r // e.deg) AS inflow"
            f" FROM ed e JOIN r{p} r ON e.src = r.id GROUP BY e.dst)"
        )
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r.r), 0) AS dm FROM r{p} r"
            f" LEFT JOIN deg g ON r.id = g.src WHERE g.src IS NULL)"
        )
        parts.append(
            f"r{i} AS (SELECT nd.id, {tele} + ({dp} * (coalesce(c.inflow, 0)"
            f" + (d.dm // nn.n))) // 100 AS r"
            f" FROM nodes nd CROSS JOIN nn CROSS JOIN d{i} d"
            f" LEFT JOIN c{i} c ON nd.id = c.id)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r{n_iter}"
    )


def oriented_arcs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
    share_scan: bool = True,
) -> DataFrame:
    """Degree-ordered orientation of an undirected edge list: each
    deduplicated edge becomes ONE arc from its (degree, id)-smaller
    endpoint to its (degree, id)-larger endpoint. Returns
    (a, b, db) — tail, head, head's degree (the head degree rides
    along so the wedge builder can order out-neighbors without
    another join).

    This is the power-law defense the r6 verdict flagged: orienting
    by id lets a 10⁷-degree hub keep 10⁷ out-arcs and fan out O(d²)
    wedges before any skew handling can help (the rows exist before
    AQE can split them). Orienting low-degree → high-degree bounds
    every out-degree by O(sqrt(m)) — a hub's arcs all point INTO it —
    so total wedge volume is O(m^1.5) on any graph (Schank &
    Wagner's forward algorithm; the id tiebreak keeps the
    orientation deterministic and engine-replayable)."""
    if assume_canonical:
        # caller guarantees src < dst and distinct rows — skip the
        # canonicalization shuffle (a full re-distinct of the edge
        # list, ~1.5M redundant rows on the sf0.1 co-purchase graph)
        und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        und = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    # the canonical edge table feeds FIVE consumers (the orientation
    # join + two degree-table references per side — deg itself is a
    # union of two und projections and joins back twice); Spark
    # re-executes unshared subplans, so without sharing the WHOLE edge
    # build — scan, self-join, distinct — runs five times per arcs
    # consumer (pinned: 10x end to end under triangle_count). The lazy
    # localCheckpoint shares it at the RDD level — the incremental-LSH
    # / segment-dedup share_scan device; same caveats (snapshot on
    # first action, non-fault-tolerant local blocks — gate with
    # share_scan=False on preemptible clusters).
    if share_scan:
        und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
    share_scan: bool = True,
) -> DataFrame:
    """Per-vertex triangle participation via degree-ordered wedge
    closure: orient edges low-degree → high-degree (see
    :func:`oriented_arcs`), build each wedge once from a common tail
    (out-neighbors ordered by (degree, id)), close it by probing the
    oriented (y, z) arc, then emit ALL THREE vertices of every closed
    triangle. Returns (u, n_triangles) — for every vertex in at least
    one triangle, the number of triangles containing it.

    Emitting all three vertices makes the result independent of the
    orientation, so the DuckDB oracle can enumerate triangles with the
    simple id-ordered join and still match hash-for-hash, while the
    Spark plan keeps the O(m^1.5) work bound a power-law graph needs.

    Execution is edge-iterator (adjacency-intersection) rather than
    wedge-materializing: out-neighbor lists (bounded by O(sqrt(m))
    per vertex thanks to the orientation) are packed into arrays
    once, and the closed triangles are
    ``array_intersect(N+(p), N+(q))`` evaluated JVM-side. The same
    O(m^1.5) element volume flows through the join, but as packed
    array payloads instead of one shuffle ROW per wedge — the
    wedge-row variant shuffled every candidate two-path through a
    (y, z)-keyed exchange before filtering, which at the dense sf0.1
    co-purchase graph (~1.5M edges) meant ~10^8 exchanged rows and
    ~90 s; this shape runs the same graph in a fraction of that.
    The arc list is recovered by EXPLODING the tail's own adjacency
    array (arcs ≡ adj unnested), so the tail side needs no join at
    all — one a-keyed aggregation plus ONE b-keyed shuffle join,
    versus the arcs⋈adj⋈adj two-join form's two. Identical result;
    a round-robin A/B at sf0.1 measures the two shapes within noise
    of each other locally (local-mode shuffles are page-cache
    friendly), so the strictly smaller exchange count — one fewer
    full pass of the arc table over the wire at cluster scale — is
    what earns this shape the slot. Never a cross join; no
    per-vertex blow-up.

    ``share_scan`` (default True): the adjacency table is consumed by
    BOTH sides of the closure join (the exploded-arc probe leg and the
    packed-list build leg), and the canonical edge table inside
    ``oriented_arcs`` by FIVE legs (the orientation join plus TWO
    degree-table references per side) — Spark re-executes unshared
    subplans, and the multipliers COMPOUND: 5 legs x 2 adjacency
    consumers = 10 executions of the edge build (scan + self-join +
    distinct) = 20 lineitem scans in the unshared executed plan
    (pinned exactly in tests/test_plans.py's subplan-ceiling guard).
    Measured on the dense
    sf0.1 co-purchase graph (1.5 M edges): 3.3-4.4 s settled without
    sharing → 0.9-1.0 s with both levels checkpoint-shared (the lazy
    checkpoint materializes inside the first action, so timed runs
    stay honest). Same caveats as every share_scan in this codebase:
    snapshot on first action, non-fault-tolerant local blocks — pass
    False on preemptible clusters."""
    arcs = oriented_arcs(
        edges, src, dst, assume_canonical=assume_canonical, share_scan=share_scan
    ).select("a", "b")
    adj = arcs.groupBy("a").agg(F.collect_list("b").alias("na"))
    if share_scan:
        adj = adj.localCheckpoint(eager=False)
    # no size(common) > 0 filter: explode drops empty arrays anyway,
    # and the filter was NOT free — Catalyst pushed it into the join
    # as a condition, so array_intersect evaluated TWICE per matching
    # pair (once in the SMJ condition, once in the Project). With the
    # filter gone the intersection is computed exactly once per
    # candidate pair (r14 A/B at sf0.1: 1.345 -> 1.052 s on the bench
    # graph, identical output rows).
    tri = (
        adj.select("a", "na", F.explode("na").alias("b"))
        .join(adj.select(F.col("a").alias("b"), F.col("na").alias("nb")), "b")
        .select("a", "b", F.array_intersect("na", "nb").alias("common"))
        .select("a", "b", F.explode("common").alias("c"))
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
