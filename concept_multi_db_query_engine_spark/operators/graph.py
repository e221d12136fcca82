"""Graph algorithms over edge-list DataFrames.

Complements the iterative min-label propagation in
``dedup.duplicate_clusters`` with a second iterative-algorithm family:
PageRank-style centrality, used on document/embedding similarity graphs to
pick canonical representatives and rank corpus items by connectivity.

Determinism note: classic PageRank is float arithmetic whose result depends
on summation order — unusable for exact cross-engine verification. This
implementation works in integer fixed-point "nano-rank" units (scale 1e9)
with floor division everywhere, so Spark's parallel partial sums and a
sequential SQL replay produce bit-identical ranks after any number of
iterations. The tiny mass lost to floor division each round is the price of
exactness; relative ordering (the point of PageRank) is unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**9


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge list. Returns
    (node, rank_scaled, rank) — ``rank_scaled`` in 1e-9 units (exact
    BIGINT), ``rank`` the double view.

    Update rule (all integer, floor division)::

        contrib(v)   = sum over in-edges (u -> v) of  rank(u) DIV outdeg(u)
        rank'(v)     = base + (damping_pct * contrib(v)) DIV 100
        base         = (SCALE DIV n) * (100 - damping_pct) DIV 100

    Scale shape: each iteration is one shuffle of the edge list keyed by
    ``src`` (rank join — broadcastable while ranks fit, sort-merge past
    that), one map-side-combined LONG sum keyed by ``dst`` (exact and
    associative — this is why integer units matter), and a left join back
    to the node universe so sink-only nodes keep their base rank. Lineage
    is cut with ``localCheckpoint`` every 2 rounds (the dominant loop cost
    locally is driver-side Catalyst re-analysis of the growing plan, which
    the cadence bounds); per-iteration state is one row per node, never
    per edge. The node count is the single
    driver-side scalar (one tiny count job) that seeds the integer base.

    Dangling mass: by default, nodes without out-edges simply leak their
    rank — the standard simplification for similarity graphs where every
    node has out-degree k by construction (e.g.
    :func:`similarity.knn_graph`). With ``redistribute_dangling=True`` the
    classic correction applies instead: each iteration, the total rank
    held by sink nodes is shared back to every node before damping ::

        rank'(v) = base + damping_pct
                   * (contrib(v) + dangling_mass DIV n) DIV 100

    so total mass is conserved (up to floor-division dust) and sink-heavy
    graphs — web crawls, citation DAGs, truncated edge exports — rank
    correctly. The per-iteration dangling mass is a ONE-ROW aggregate over
    the rank vector (map-side-combined LONG sum), joined back with a
    broadcast nested-loop cross join — no driver-side action, no scalar
    collect; the loop stays a single pipelined lineage per iteration.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    src, dst = F.col(src_col), F.col(dst_col)
    # Materialize the edge list EXACTLY ONCE: it may carry an expensive
    # lineage (e.g. the k-NN graph's blocked self-join), and it is
    # referenced by the out-degree join of every iteration plus the node
    # universe. All loop-invariant frames derive from this checkpoint.
    e0 = edges.select(src.alias("c_src"), dst.alias("c_dst")).localCheckpoint(
        eager=True
    )
    nodes = (
        e0.select(F.col("c_src").alias("node"))
        .union(e0.select(F.col("c_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # fills the node checkpoint (reads e0 only); under AQE the call above
    # already ran the distinct's shuffle stage
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("rank"),
        )
    init = SCALE // n
    base = init * (100 - damping_pct) // 100
    dangling = None
    if redistribute_dangling:
        # loop-invariant sink set: nodes that never appear as a source
        dangling = nodes.join(
            e0.select(F.col("c_src").alias("node")).distinct(),
            "node",
            "left_anti",
        ).localCheckpoint(eager=False)
    return _rank_iterations(
        e0, nodes, F.lit(init), F.lit(base), iterations, damping_pct,
        dangling, n,
    )


def _rank_iterations(
    e0: DataFrame,
    nodes: DataFrame,
    start,
    teleport,
    iterations: int,
    damping_pct: int,
    dangling: DataFrame | None = None,
    n: int = 0,
) -> DataFrame:
    """The integer rank recurrence of :func:`pagerank` and
    :func:`personalized_pagerank` over the pinned (c_src, c_dst) edge
    frame ``e0``: ranks start at the ``start`` column, and each round

        rank'(v) = teleport(v) + damping_pct * contrib(v) DIV 100

    with ``contrib(v)`` the in-edge sum of ``rank(u) DIV outdeg(u)``.
    Given the sink set ``dangling`` and the node count ``n``, the rank
    held by sinks is shared back to every node before damping. Lineage
    is cut every 2 rounds; under the session's AQE each cut runs the
    round's shuffle stages when it is called, not when the result is
    read. Returns (node, rank_scaled, rank)."""
    out_edges = e0.join(
        e0.groupBy(F.col("c_src").alias("o_src"))
        .agg(F.count(F.lit(1)).alias("outdeg")),
        F.col("c_src") == F.col("o_src"),
    ).select("c_src", "c_dst", "outdeg")
    ranks = nodes.select("node", start.cast("long").alias("rank_i"))
    for it in range(iterations):
        contrib = (
            out_edges.join(ranks, out_edges["c_src"] == ranks["node"])
            .select(
                F.col("c_dst").alias("node"),
                F.expr("rank_i DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        step = nodes.join(contrib, "node", "left")
        mass = "coalesce(contrib, 0)"
        if dangling is not None:
            dmass = ranks.join(dangling, "node").agg(
                F.coalesce(F.sum("rank_i"), F.lit(0))
                .cast("long").alias("__dm")
            )
            step = step.crossJoin(dmass)  # one-row side: broadcast NLJ
            mass = f"(coalesce(contrib, 0) + __dm DIV {n})"
        ranks = step.select(
            "node",
            (teleport + F.expr(f"{damping_pct} * {mass} DIV 100"))
            .cast("long").alias("rank_i"),
        )
        if it % 2 == 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node",
        F.col("rank_i").alias("rank_scaled"),
        (F.col("rank_i").cast("double") / F.lit(float(SCALE))).alias("rank"),
    )


def hits_scores(
    edges: DataFrame,
    iterations: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg 1999): mutually-reinforcing
    hub and authority scores over a directed edge list — on a kNN
    similarity graph, a high authority is a vector many neighborhoods
    point AT (a density mode, a good canonical representative), a high
    hub is a vector whose out-neighborhood covers the authorities (a
    good cluster "table of contents"). Complements :func:`pagerank`,
    which mixes the two roles into one score.

    Classic HITS normalizes by the L2 norm each round — float
    arithmetic whose result depends on summation order. This
    implementation keeps the update EXACT: scores live in integer
    micro-units (scale 1e6) and each half-step renormalizes by the
    MAXIMUM, not the norm ::

        s_a(v) = sum over in-edges (u -> v) of hub(u)
        auth'(v) = s_a(v) * SCALE DIV greatest(max_v s_a(v), 1)
        s_h(u) = sum over out-edges (u -> v) of auth'(v)
        hub'(u) = s_h(u) * SCALE DIV greatest(max_u s_h(u), 1)

    Max-normalization keeps the same fixed point direction as L2 (the
    principal eigenvectors of AᵀA / AAᵀ, scaled so the top score is
    exactly SCALE) while every operation — LONG sums, max, floor
    division — is associative/order-free, so Spark's parallel partials
    and the sequential DuckDB replay agree bit-for-bit after any number
    of iterations. Overflow bound: in-degree · SCALE² must stay under
    2^63, i.e. max degree < 9.2e6 — document-corpus kNN graphs are
    k-regular and nowhere close.

    Scale shape: per iteration, two edge-list shuffles (the hub and
    authority joins, each followed by a map-side-combined LONG sum) and
    two ONE-ROW max aggregates joined back by broadcast nested-loop —
    no driver-side action inside the loop; per-iteration state is one
    row per node. Lineage cut with ``localCheckpoint`` every round,
    after each half-step: with TWO state frames per round the cut must
    land between the auth and hub half-steps or hub's lineage re-plans
    and re-computes the auth half-step, and per-round cuts measured
    fastest (driver planning is the loop's dominant cost at any
    scale; checkpoints are value-neutral).

    Returns (node, authority_scaled, hub_scaled, authority, hub) —
    scaled BIGINT micro-units plus double views in [0, 1].
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    scale = 10**6
    e0 = edges.select(
        F.col(src_col).alias("e_src"), F.col(dst_col).alias("e_dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e0.select(F.col("e_src").alias("node"))
        .union(e0.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(scale).cast("long").alias("hub_i"))
    # Inside the loop the score frames carry ONLY nodes with incident
    # edges: a node absent from auth/hub contributes exactly what a
    # zero row would (the edge join drops it; the max ignores zeros,
    # and greatest(max, 1) covers the all-zero corner), so the
    # per-iteration zero-fill join the spec's formulation implies is
    # deferred to ONE left join at the end — two exchanges per
    # half-step instead of three, 12 fewer stages at 6 iterations.
    for _ in range(iterations):
        s_a = (
            e0.join(hub, e0["e_src"] == hub["node"])
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum("hub_i").cast("long").alias("s"))
        )
        m_a = s_a.agg(
            F.greatest(F.max("s"), F.lit(1)).cast("long").alias("__ma")
        )
        auth = s_a.crossJoin(m_a).select(
            "node",
            F.expr(f"s * {scale} DIV __ma").cast("long").alias("auth_i"),
        )
        # Cut auth BEFORE the hub half-step references it, or hub's
        # lineage holds the full auth sub-plan and the auth half-step is
        # planned and computed twice per round.
        auth = auth.localCheckpoint(eager=False)
        s_h = (
            e0.join(auth, e0["e_dst"] == auth["node"])
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum("auth_i").cast("long").alias("s"))
        )
        m_h = s_h.agg(
            F.greatest(F.max("s"), F.lit(1)).cast("long").alias("__mh")
        )
        hub = s_h.crossJoin(m_h).select(
            "node",
            F.expr(f"s * {scale} DIV __mh").cast("long").alias("hub_i"),
        ).localCheckpoint(eager=False)
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("auth_i"), F.lit(0)).cast("long")
            .alias("authority_scaled"),
            F.coalesce(F.col("hub_i"), F.lit(0)).cast("long")
            .alias("hub_scaled"),
        )
        .withColumn(
            "authority",
            F.col("authority_scaled").cast("double") / float(scale))
        .withColumn(
            "hub", F.col("hub_scaled").cast("double") / float(scale))
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts and local clustering coefficient
    over an undirected view of the edge list — the community-structure
    probe that complements :func:`pagerank` (centrality) and
    ``dedup.duplicate_clusters`` (components): on a similarity graph a
    high coefficient marks tightly-knit near-duplicate neighborhoods,
    near-zero marks hub-and-spoke template structure.

    The edge list is canonicalized to (a < b) pairs, and triangles are
    enumerated by the standard two-join ordered scheme: paths a<b<c from
    joining the canonical list with itself, closed by a third join on
    (a, c) — each triangle materializes exactly once.  All three joins
    shuffle on node keys (AQE handles the skewed high-degree side);
    counts are exact integers, so results are partitioning- and
    engine-independent, and the coefficient ``2·t / (deg·(deg−1))`` is a
    fixed-shape double mirrored in the oracle (NULL for degree < 2).

    Returns (node, degree, triangles, clustering_coeff).
    """
    # The canonical edge list feeds FIVE plan branches (e1/e2/e3, the
    # degree count, and via tri the triangle count) — materialize it once
    # (same discipline as pagerank's e0), or an expensive upstream lineage
    # (e.g. the kNN-graph self-join) re-executes per branch.
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    paths = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tri = paths.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
    ).select("x", "y", "z")
    tri_nodes = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.expr(
            "round(CASE WHEN degree >= 2 THEN "
            "2.0d * CAST(coalesce(triangles, 0) AS DOUBLE) "
            "/ (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0d)) "
            "ELSE CAST(NULL AS DOUBLE) END, 6)"
        ).alias("clustering_coeff"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 8,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the teleport mass
    restarts ONLY onto ``seeds``, so ranks measure proximity to the seed
    set — the similarity-graph expansion primitive ("documents related
    to this cluster") that global :func:`pagerank` can't express.

    The recurrence and scale shape are :func:`pagerank`'s, run by the
    same loop; the only changes are the seed-concentrated initial vector
    and base term, expressed as a bounded ``isin`` over the (small,
    query-sized) seed list.  With every node a seed this is
    :func:`pagerank` without dangling redistribution.  Returns
    (node, rank_scaled, rank).
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    src, dst = F.col(src_col), F.col(dst_col)
    e0 = edges.select(src.alias("c_src"), dst.alias("c_dst")).localCheckpoint(
        eager=True
    )
    nodes = (
        e0.select(F.col("c_src").alias("node"))
        .union(e0.select(F.col("c_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    init = SCALE // len(seeds)
    base = init * (100 - damping_pct) // 100
    is_seed = F.col("node").isin(list(seeds))
    return _rank_iterations(
        e0, nodes,
        F.when(is_seed, init).otherwise(0),
        F.when(is_seed, base).otherwise(0),
        iterations, damping_pct,
    )


def _undirected(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The pinned undirected view (u, w) of an edge list, self-loops and
    duplicates dropped, and its pinned node set (node)."""
    src, dst = F.col(src_col), F.col(dst_col)
    und = edges.select(src.alias("u"), dst.alias("w")).union(
        edges.select(dst.alias("u"), src.alias("w"))
    ).where(F.col("u") != F.col("w")).distinct().localCheckpoint(eager=True)
    nodes = und.select(F.col("u").alias("node")).distinct() \
        .localCheckpoint(eager=False)
    return und, nodes


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    resolve_oscillation: bool = True,
) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan et
    al. 2007), made deterministic: labels start as node ids, and each
    round every node adopts the label held by the PLURALITY of its
    neighbors with ties broken by (count desc, label asc) — no RNG, no
    async sweep order, so Spark and a sequential SQL replay converge to
    bit-identical labelings (the ``pagerank`` determinism contract).

    **Oscillation resolution.**  Synchronous majority-style dynamics
    settle into short limit cycles rather than diverging — period 2 in
    the classic case (two sides of a bipartite structure swapping
    labels forever; cf. Goles & Olivos 1980 for threshold networks).
    With the default ``resolve_oscillation=True``, after the fixed
    ``iterations`` rounds the result is the element-wise
    ``least(label_T, label_{T-1})`` of the LAST TWO rounds: a true
    fixpoint passes through unchanged (the two rounds agree), while a
    period-2 flip maps to one deterministic labeling that UNITES the
    oscillating sides — which is the right community reading of a
    structure so interconnected it flips in lockstep (a complete
    bipartite block is one community).  The output is then invariant
    to adding extra rounds once the dynamics has entered its cycle,
    which is what "converged" means operationally; one tiny
    label-frame join, no extra passes over the edges.
    ``resolve_oscillation=False`` returns the raw round-T labels.

    The edge list is symmetrized once (undirected view) and checkpointed;
    each iteration is one edge-list join against the label vector plus a
    two-level aggregation — (node, label) counts map-side combined, then
    a ``min_by`` plurality pick — with lineage cut every round.
    Per-iteration state is one row per node.  Isolated-from-update
    nodes keep their current label via the left join.  Returns
    (node, label) — equal labels mark one community.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    und, nodes = _undirected(edges, src_col, dst_col)
    labels = nodes.select("node", F.col("node").alias("label"))
    prev = labels
    for _ in range(iterations):
        counts = (
            und.join(labels, und["w"] == labels["node"])
            .select(F.col("u"), F.col("label"))
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = counts.groupBy(F.col("u").alias("node")).agg(
            F.expr("min_by(label, struct(-cnt, label))").alias("new_label")
        )
        prev = labels
        labels = nodes.join(labels, "node").join(picked, "node", "left") \
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            ).localCheckpoint(eager=False)
    if not resolve_oscillation or iterations < 2:
        return labels
    return labels.join(
        prev.select("node", F.col("label").alias("__prev")), "node"
    ).select("node", F.least("label", "__prev").alias("label"))


def adamic_adar_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 100,
    max_degree: int = 1024,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected view of the edge
    list: for every NON-adjacent node pair (u, v), ``AA(u,v) =
    Σ_{w ∈ N(u)∩N(v)} 1 / ln(deg(w))`` — common neighbors weighted so
    that promiscuous hubs certify less than selective nodes (Adamic &
    Adar 2003). Returns the ``top_k`` candidate links.

    Determinism contract (the house micro-unit rule): each wedge
    contribution is quantized to integer MICROS — ``round(1e6 /
    ln(deg(w)))``, half-away on both engines — and summed as BIGINT, so
    the aggregate is partition-order-immune and a SQL replay is
    bit-identical; the reported double score is one final division.

    Scale: the wedge frame is a self-join of adjacency on the common
    neighbor w — Σ deg(w)² rows. That is the algorithm's intrinsic
    cost, and it is bounded by dropping hub nodes above ``max_degree``
    (the standard mitigation: a hub's 1/ln(deg) weight is negligible
    while its wedge fan-out is quadratic). One keyed shuffle for the
    adjacency build, one for the wedge aggregate, one anti-join to
    drop already-connected pairs.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    und = edges.select(src.alias("a"), dst.alias("b")).union(
        edges.select(dst.alias("a"), src.alias("b"))
    ).where(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)
    # deg == 1 nodes cannot be common neighbors (one neighbor forms no
    # wedge) and would divide by ln(1) = 0 under ANSI; hubs above
    # max_degree are dropped per the docstring
    deg = und.groupBy(F.col("a").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).where((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
    # adjacency keyed by the common neighbor: (w, nbr)
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("nbr")) \
        .join(deg, "w") \
        .withColumn(
            "__aa_micro",
            F.round(F.lit(1000000.0)
                    / F.log(F.col("deg").cast("double")), 0).cast("long"),
        )
    left = adj.select("w", F.col("nbr").alias("u"), "__aa_micro")
    right = adj.select("w", F.col("nbr").alias("v"))
    wedges = left.join(right, "w").where(F.col("u") < F.col("v"))
    pairs = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum("__aa_micro").cast("long").alias("__sum_micro"),
    )
    linked = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).where(F.col("u") < F.col("v"))
    return (
        pairs.join(linked, ["u", "v"], "left_anti")
        .select(
            "u", "v", "common_neighbors",
            (F.col("__sum_micro").cast("double") / F.lit(1000000.0))
            .alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "u", "v")
        .limit(top_k)
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core subgraph by fixed-round peeling (Seidman 1983): repeatedly
    drop nodes whose degree in the REMAINING graph is below ``k`` — the
    standard dense-substructure filter (on a similarity graph, the
    k-core is the "everything here is mutually close" region worth
    clustering; the shell that peels off is hub-and-spoke noise).

    The graph is treated as UNDIRECTED (edges canonicalized and
    deduplicated).  Each peel round is one degree aggregate + one
    semi-join pair — exact integer degrees, so the surviving set after
    any fixed number of rounds is partitioning- and engine-
    deterministic.  ``rounds`` is FIXED (not data-adaptive): the
    result equals the true k-core whenever the peel depth is ≤
    ``rounds`` (kNN-style graphs peel in a handful of rounds) and is
    the well-defined ``rounds``-step residual otherwise — fixing the
    round count is what keeps the operator replayable by a SQL oracle
    with the same round structure.  Lineage is cut per round
    (``localCheckpoint``, the :func:`pagerank` discipline).

    Early exit at the fixpoint: peeling only REMOVES edges, so an
    unchanged edge COUNT after a round means the surviving set is
    unchanged, every remaining round is a no-op, and the
    ``rounds``-step residual is already in hand — the loop breaks
    without changing the contract or the values.  The probe is one
    count job over the round's already-materialized checkpoint
    (kNN-style graphs peel to their core in 2–3 rounds, so the
    default 8 skips most of its per-round driver jobs).

    Returns the surviving nodes: (node, degree) — degree measured in
    the final residual graph, ordered by node.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where("a != b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und
    prev_edges = cur.count()
    for _ in range(rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        cur = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_edges = cur.count()
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    # no trailing degree filter: that would be a ninth half-peel —
    # the residual after exactly `rounds` peels is the contract
    return (
        cur.select(F.col("a").alias("node"))
        .unionByName(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .orderBy("node")
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) — do high-degree
    nodes link to other high-degree nodes?  Positive on social-style
    graphs, negative on hub-and-spoke similarity graphs; the one-number
    topology summary that tells you whether LSH buckets are chaining
    into hubs (a near-dup quality smell) before you pay for clustering.

    The coefficient is the Pearson correlation of the degree pairs
    over every directed realization of each undirected edge.  One
    degree aggregation, one edge→degree join per endpoint, then EXACT
    integer sums (Σj, Σj², Σjk over 2m pairs — symmetric, so the two
    directions collapse into doubled sums) in DECIMAL(38,0); the
    correlation is one fixed-order double projection over the string-
    rendered totals.  Returns one row: (n_nodes, n_edges,
    assortativity).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    pairs = (
        e.join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("dj")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("dk")), "b")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        # each undirected edge contributes BOTH (j,k) and (k,j):
        # Σj over directed pairs = Σ(dj + dk), Σjk = 2·Σ dj·dk,
        # Σj² = Σ(dj² + dk²)
        F.expr("CAST(sum(CAST(dj AS DECIMAL(38,0)) + dk) "
               "AS DECIMAL(38,0))").alias("sj"),
        F.expr("CAST(sum(CAST(2 AS DECIMAL(38,0)) * dj * dk) "
               "AS DECIMAL(38,0))").alias("sjk"),
        F.expr("CAST(sum(CAST(dj AS DECIMAL(38,0)) * dj "
               "+ CAST(dk AS DECIMAL(38,0)) * dk) AS DECIMAL(38,0))")
        .alias("sjj"),
    )
    r = (
        "((m_d * sjk_d - sj_d * sj_d) "
        "/ nullif(m_d * sjj_d - sj_d * sj_d, 0.0d))"
    )
    return (
        nn.crossJoin(F.broadcast(m))
        .select(
            "n_nodes", "n_edges",
            F.expr("CAST(2 * n_edges AS DOUBLE)").alias("m_d"),
            F.expr("CAST(CAST(sj AS STRING) AS DOUBLE)").alias("sj_d"),
            F.expr("CAST(CAST(sjk AS STRING) AS DOUBLE)")
            .alias("sjk_d"),
            F.expr("CAST(CAST(sjj AS STRING) AS DOUBLE)")
            .alias("sjj_d"),
        )
        .select(
            "n_nodes", "n_edges",
            F.expr(
                f"CAST(round(({r}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("assortativity"),
        )
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components by synchronous min-label propagation —
    every node's label converges to the SMALLEST node id reachable
    from it, which is a canonical, partition-order-independent
    component id (the :func:`label_propagation` determinism contract,
    with min instead of plurality so there is a true fixpoint and no
    oscillation).  The undirected dedup/linkage complement to
    ``dedup.duplicate_clusters`` for arbitrary edge lists; both run
    :func:`_min_label_components`.

    Each round is one edge-list join against the label vector plus a
    min aggregation; the loop stops when a bounded driver-side count
    says no label changed (convergence needs diameter-many rounds; at
    100 TB the same loop runs with the alternating large-star/small-
    star optimization — the per-round shape is already that of
    Kiveris et al.'s hash-min).  If the graph diameter exceeds
    ``max_iterations`` the loop raises LOUDLY instead of returning
    silently-split components (non-convergence is indistinguishable
    from correct output by inspection).  Returns (node, component)
    plus component sizes via (node, component, component_size).
    """
    und, nodes = _undirected(edges, src_col, dst_col)
    labels = _min_label_components(
        und, nodes, max_iterations, "max_iterations")
    sizes = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return (
        labels.select("node", F.col("label").alias("component"))
        .join(sizes, "component")
        .select("node", "component", "component_size")
    )


def _min_label_components(
    und: DataFrame,
    nodes: DataFrame,
    max_iterations: int,
    budget_arg: str,
) -> DataFrame:
    """Min-label propagation to its fixpoint over the pinned symmetric
    edge frame ``und`` (u, w); every ``nodes`` (node) row starts with
    its own id as label.  Returns (node, label), the label being the
    smallest id reachable from the node.

    Convergence is probed every OTHER round, on labels pinned eagerly
    first (so lineage is cut every 2 rounds): any non-trivial component
    needs >= 2 rounds, each probe is a driver-side job, and one extra
    no-op propagation round is cheaper than a probe per round.  Labels
    at the fixpoint are stable (min-propagation is idempotent), so the
    delayed probe cannot change a single label.  The LAST round always
    probes, so the loop raises ``ValueError`` naming the caller's
    ``budget_arg`` when labels still change after ``max_iterations``
    rounds."""
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(max_iterations):
        nbr_min = (
            und.join(labels, und["w"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if it % 2 == 0 and it != max_iterations - 1:
            labels = new_labels
            continue
        new_labels = new_labels.localCheckpoint(eager=True)
        # a full count, not limit(1): Spark names each limit's codegen
        # counter from a process-wide sequence, so every limit-1 probe
        # compiled a new generated class
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ValueError(
        f"labels still changing after {budget_arg}={max_iterations} "
        "rounds — graph diameter exceeds the iteration budget and "
        "components would be "
        "SILENTLY split into multiple labels; raise "
        f"{budget_arg} (convergence needs ~diameter rounds) or "
        "pre-contract the graph (large-star/small-star)."
    )


def resource_allocation_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 100,
    max_degree: int = 1024,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009) —
    the :func:`adamic_adar_scores` sibling with the harsher hub
    penalty ``RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)`` (1/deg instead of
    1/ln deg), which consistently wins on dense similarity graphs
    where hubs are mostly template noise.  Same wedge pipeline, same
    micro-unit determinism contract, same max_degree hub cut; deg ≥ 2
    only (a single-neighbor node forms no wedge).  Returns the top_k
    non-adjacent candidate pairs: (u, v, common_neighbors, ra_score).
    """
    src, dst = F.col(src_col), F.col(dst_col)
    und = edges.select(src.alias("a"), dst.alias("b")).union(
        edges.select(dst.alias("a"), src.alias("b"))
    ).where(F.col("a") != F.col("b")).distinct() \
        .localCheckpoint(eager=True)
    deg = und.groupBy(F.col("a").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).where((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("nbr")) \
        .join(deg, "w") \
        .withColumn(
            "__ra_micro",
            F.round(F.lit(1000000.0)
                    / F.col("deg").cast("double"), 0).cast("long"),
        )
    left = adj.select("w", F.col("nbr").alias("u"), "__ra_micro")
    right = adj.select("w", F.col("nbr").alias("v"))
    wedges = left.join(right, "w").where(F.col("u") < F.col("v"))
    pairs = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum("__ra_micro").cast("long").alias("__sum_micro"),
    )
    linked = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).where(F.col("u") < F.col("v"))
    return (
        pairs.join(linked, ["u", "v"], "left_anti")
        .select(
            "u", "v", "common_neighbors",
            (F.col("__sum_micro").cast("double") / F.lit(1000000.0))
            .alias("ra_score"),
        )
        .orderBy(F.col("ra_score").desc(), "u", "v")
        .limit(top_k)
    )
