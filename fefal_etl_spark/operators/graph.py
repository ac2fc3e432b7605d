"""Graph propagation operators expressed as DataFrame algebra.

Together with :func:`fefal_etl_spark.llm.similarity.kmeans_assignments`
(numeric refinement), :func:`pagerank` is one of the engine's iterative-
algorithm templates: each round is a join + aggregation keyed on the node
id, the fixed-round loop unrolls into one lazy DAG, and nothing ever
touches the driver. Connected components
(:func:`fefal_etl_spark.llm.dedup.connected_components`) is the exception:
it collects its edge list and runs union-find on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list.

    r₀ = 1/N; rₜ₊₁(n) = (1-d)/N + d·Σ_{m→n} rₜ(m)/outdeg(m). Nodes are
    everything appearing as src or dst; nodes without out-edges contribute
    nothing (standard dangling-mass simplification, documented — callers
    wanting mass conservation add the dangling term).

    Scale: the edge frame is persisted once (reused every round); each
    round is one src-keyed broadcast-scalar-free join + one dst-keyed sum
    — two hash shuffles per round on bounded-width rows. Fixed ``iters``
    keeps the DAG static; at many rounds insert checkpoints like the
    k-means template. Returns (node, rank) with the raw double rank —
    callers round for cross-engine comparison (float sums are
    order-dependent at the 1e-16 level, far below any sane rounding).
    """
    from fefal_etl_spark.cache import track

    e = track(
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).persist()
    )
    nodes = track(
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .persist()
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("__n"))
    outdeg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("__deg"))

    r = nodes.join(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            e.join(r, F.col("e_src") == F.col("node"))
            .join(outdeg, "e_src")
            .select(
                F.col("e_dst").alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__contrib"))
        )
        r = (
            nodes.join(contrib, "node", "left")
            .join(F.broadcast(n_total))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return r


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    persist_oriented: bool = True,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal behind community/spam detection on co-occurrence
    graphs. Input edges may arrive in any orientation with duplicates;
    they are canonicalized (least, greatest) and de-duplicated first.

    Scale shape — the degree-ordered orientation trick (Suri & Vassilvitskii
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"): each
    undirected edge is directed from its lower-(degree, id) endpoint to the
    higher one, so every wedge is enumerated exactly once AT ITS
    LOWEST-DEGREE VERTEX. The wedge join's per-key fan-out is out-degree²,
    and orientation bounds out-degree by O(√m) — a star node of degree d
    costs d² wedges un-oriented but only ~m oriented. The closing check is
    one equi-join of wedges against oriented edges on the (b, c) pair key.
    Every triangle is found exactly once; per-node counts explode each
    triangle to its three corners and aggregate (map-side combinable).

    Output: (node, n_triangles) for nodes in at least one triangle.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("__dv"))
    # orient: src2 → dst2 iff (deg, id) of src2 < (deg, id) of dst2
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("__dv")).otherwise(F.col("__du")).alias("__db"),
        )
    )
    if persist_oriented:
        # referenced three times (both wedge legs + the closing check):
        # un-persisted, Catalyst re-expands the whole dedup+degree+orient
        # chain per reference (measured 47 scans / 26 broadcasts at
        # sf0.1, ~2× the wall time). Edge-cardinality frame; the cached
        # blocks are released by Spark's ContextCleaner once the returned
        # plan is GC'd (referenceTracking default) — callers invoking
        # this in a tight loop who want deterministic cleanup can pass
        # persist_oriented=False.
        oriented = oriented.persist()
    e1 = oriented.select("a", F.col("b").alias("b1"), F.col("__db").alias("__d1"))
    e2 = oriented.select("a", F.col("b").alias("b2"), F.col("__db").alias("__d2"))
    # wedges at the lowest-ordered vertex a, with (deg,id)-ordered legs
    wedge_ord = (F.col("__d1") < F.col("__d2")) | (
        (F.col("__d1") == F.col("__d2")) & (F.col("b1") < F.col("b2"))
    )
    wedges = e1.join(e2, "a").filter(wedge_ord)
    closing = oriented.select(
        F.col("a").alias("b1"), F.col("b").alias("b2")
    )
    tri = wedges.join(closing, ["b1", "b2"]).select(
        F.col("a").alias("x"), F.col("b1").alias("y"), F.col("b2").alias("z")
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def bfs_levels(
    edges: DataFrame,
    source: str | DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    early_exit: bool = True,
    prune_visited: bool = True,
) -> DataFrame:
    """Frontier-expansion breadth-first search: hop distance from
    ``source`` to every node reachable in ≤ ``max_hops``, as
    (node, level). Level = length of the SHORTEST path (a node enters
    `visited` the first round it appears and is anti-joined out of every
    later frontier).

    Scale: the canonical Pregel-style BFS on DataFrames — each round is
    one src-keyed join (frontier ⋈ edges) + distinct + anti-join against
    the visited set; the frontier and visited frames persist per round
    and the loop exits EARLY on an empty frontier (one count() action
    per round — a scalar, bounded by ``max_hops``). For
    diameter-unbounded traversals, checkpoint visited every few rounds
    to cut lineage; frontier size — not graph size — bounds each
    round's shuffle.

    ``prune_visited=False`` selects the LAYERED MIN-AGGREGATION form:
    no anti-join — round k's frontier is simply
    ``distinct(neighbors(frontier_{k-1}))``, every layer is tagged with
    its round number, and one final ``groupBy(node).min`` recovers the
    shortest-path level (a node's first appearance IS its BFS level;
    later reappearances lose the min). The seed and each frontier DO
    persist (lazily — the builder stays zero-action; tracked via
    cache.track so the harness releases them): the union's legs share
    every lower layer as a plan prefix, and without a cache point each
    prefix is re-evaluated once per leg (O(K²) subplan evaluations —
    see the round-12 note below). All ``max_hops`` rounds chain into
    ONE lazy DAG with half the shuffles of the pruned form (measured
    4.3 s → 1.9 s on the sf0.1 trade graph). The trade:
    without pruning, each frontier is bounded by the reachable set
    rather than the newly-discovered set, so revisited nodes flow
    through later rounds — the right form when ``max_hops`` is SMALL
    AND FIXED (bounded waste, scheduling wins dominate); the pruned
    form is right for deep traversals where re-expanding the interior
    would dominate (frontier≪reachable)."""
    from fefal_etl_spark.cache import track

    e = track(
        edges.select(
            F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
        ).persist()
    )
    spark = edges.sparkSession
    if isinstance(source, DataFrame):
        # lazy seed (round 12): a one-row (node) frame — e.g. an
        # aggregate picking the source key — stays IN the plan instead
        # of a driver-side collect in the caller; each round broadcasts
        # it like any frontier. Column contract: one STRING ``node``.
        seed = source.select(
            F.col("node").cast("string").alias("node"),
            F.lit(0).cast("int").alias("level"),
        )
    else:
        seed = spark.createDataFrame(
            [(source, 0)], "node string, level int"
        )

    if not prune_visited:
        # Each frontier PERSISTS (round 12): the union's legs share
        # every lower layer as a plan prefix, and a DataFrame seed adds
        # its aggregate subplan to each leg too — without a cache point
        # Spark evaluates layer k's whole prefix once per leg that
        # contains it (O(K²) subplan evaluations, one nested broadcast
        # build each; measured 1.1 → 3.7 s warm at sf0.1 when the seed
        # became a plan). Persisting is lazy — the builder stays
        # zero-action — and the first broadcast build materializes each
        # layer exactly once.
        # one persisted seed plan serves BOTH layer 0 and the initial
        # frontier (ADVICE r12: deriving them from separate plans ran a
        # DataFrame seed's aggregate subplan twice)
        frontier = track(seed.select("node").persist())
        layers = [frontier.withColumn("level", F.lit(0).cast("int"))]
        for lvl in range(1, max_hops + 1):
            frontier = track(
                e.join(F.broadcast(frontier), F.col("node") == F.col("e_src"))
                .select(F.col("e_dst").alias("node"))
                .distinct()
                .persist()
            )
            layers.append(frontier.withColumn("level", F.lit(lvl)))
        allv = layers[0]
        for layer in layers[1:]:
            allv = allv.unionByName(layer)
        return allv.groupBy("node").agg(F.min("level").alias("level"))

    visited = track(seed.persist())
    frontier = visited
    for lvl in range(1, max_hops + 1):
        # Both the frontier join AND the anti-join against visited carry
        # broadcast hints: BFS frontiers (and, within a bounded-hop
        # traversal, the visited set) are orders of magnitude smaller
        # than the edge list on real graphs, so each round is one
        # map-side pass over the persisted edges instead of re-shuffling
        # them — measured 3× on the trade graph. For frontiers/visited
        # sets that outgrow the broadcast limit (dense expander graphs
        # near saturation, deep traversals), drop the hints and the same
        # plan degrades gracefully to shuffle joins — the algebra is
        # hint-independent.
        nxt = track(
            e.join(F.broadcast(frontier), F.col("node") == F.col("e_src"))
            .select(F.col("e_dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .persist()
        )
        # early_exit=True: one scalar action per round, stop as soon as a
        # frontier empties — the right trade when rounds are expensive
        # (deep traversals, big graphs). early_exit=False: no per-round
        # actions at all; all rounds chain into ONE lazy DAG and empty
        # frontiers flow through as cheap no-op joins.
        if early_exit and not nxt.take(1):
            break
        visited = track(visited.unionByName(nxt).persist())
        frontier = nxt
    return visited
