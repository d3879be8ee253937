"""Graph operators: fixed-iteration PageRank with cross-engine-exact
arithmetic, one frontier-relaxation kernel under BFS, SSSP and connected
components, triangle counting, label propagation and peeling.

Reference parity note: the reference (a generic MapReduce runtime,
``src/main`` per SURVEY.md §0) has no graph surface; iterative rank
propagation is the canonical multi-round MapReduce workload its batch model
implies (each iteration = one map(contribute)/reduce(sum) pass), so it
belongs to the declared §2.2 surface the same way connected components does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from irio_mapreduce_spark.operators.barrier import barrier, free_checkpoint

#: Fixed-point scale for rank values: 1.0 of rank mass == 10^12 units.
#: Large enough that per-edge floor-truncation (≤1 unit per contribution)
#: is negligible, small enough that 100 * sum(ranks) stays far inside
#: int64 (total mass ≈ 10^12; headroom ~9.2e18).
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    dangling: str = "assume_none",
    sources: DataFrame | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, computed in
    **fixed-point integer arithmetic** (BIGINT micro-ranks at
    ``PAGERANK_SCALE`` units per 1.0 of mass) so two independent engines
    produce bit-identical ranks:

    * a float formulation cannot make that promise — summation is
      order-dependent, and even the catalog's double→DECIMAL(38,10) snap
      diverges in the last ulp between engines (Spark rounds the exact
      BigDecimal expansion of the double; DuckDB rounds the
      double-scaled product), observed on 5/1600 nodes after 3 rounds;
    * integer ops have no such freedom: contribution = ``r div outdeg``
      (floor), per-node sum is exact, and the update is
      ``((den-num)*SCALE) div (den*N) + (num*sum) div den`` — every step
      a pure function of integers, in any engine, under any partitioning.
      Floor truncation loses <1 unit per edge (relative error ≤1e-6 at
      realistic degrees), a deterministic bias, not noise.

    ``dangling`` picks the node-universe contract:

    * ``"assume_none"`` (default) — the caller passes a graph where every
      node has at least one out-edge (e.g. mirror the edges for an
      affinity rank); the node universe is the out-degree table and no
      extra work is done. Silently wrong on graphs with sinks.
    * ``"redistribute"`` — arbitrary edge lists: the node universe is
      ``distinct(src) ∪ distinct(dst)``, and each round the rank mass
      sitting on sink nodes (no out-edges) is summed (one extra global
      aggregate, an O(sinks)→1-row broadcast) and every node receives
      ``damping * (dangling_mass div N)`` on top of its in-edge
      contributions — the standard dangling-mass correction, kept in
      exact integer arithmetic. Total mass stays ``PAGERANK_SCALE`` up
      to deterministic floor truncation (≤1 unit per integer division:
      bounded by ``edges + 3·nodes`` units per round — property-tested).
      Because each round reads the previous ranks TWICE (contributions
      and the dangling sum), this mode checkpoints the rank table per
      round (freeing the superseded one) — without the barrier the plan
      would double per iteration.

    ``sources`` (the set S, its ids in ``source_col``) makes it
    PERSONALIZED PageRank (random walk with restart): the teleport mass
    restarts ONLY onto S, so rank becomes "proximity to S weighted by
    graph structure", the recommendation / trust-rank primitive. Init is
    ``SCALE div |S|`` on S and 0 elsewhere (S is intersected with the
    node universe first — teleporting onto a node with no edges would
    strand mass invisibly), and the ``(1-d)`` teleport term is paid only
    to members of S. Mass LEAKS by design on non-mirrored graphs (walks
    that die restart at S). The S-membership flag is a column of the
    node table (one left join at init), so rounds add no join over the
    global form. ``assume_none`` only: personalize over a graph with
    sinks by mirroring or pre-filtering, the caller's choice.

    ``iterations`` is a small fixed constant by contract — each
    round appends one join + one aggregation to the lineage (at this depth
    no checkpoint barrier is needed; the barrier policy of
    :func:`_frontier_relax` applies if it grows).

    Scale shape per round: contributions shuffle once on ``src`` (the join
    with ranks) and once on ``dst`` (the sum) — the classic Pregel cost —
    plus the node-universe rebuild join (degrees ⋈ sums, both keyed by
    node, so the exchange is shared) that keeps zero-in-degree nodes
    alive with their teleport share. At production scale, pre-partition
    ``edges`` by ``src`` once so every round's join reuses the exchange;
    ranks are O(nodes) rows of (node, int64).

    Returns (node, pr_fp, pr): the exact fixed-point rank and its
    ``pr_fp / SCALE`` double rendering (one IEEE division, deterministic).
    """
    if dangling not in ("assume_none", "redistribute"):
        raise ValueError(
            f"dangling must be 'assume_none' or 'redistribute', got {dangling!r}"
        )
    if sources is not None and dangling != "assume_none":
        raise ValueError(
            "personalized PageRank (sources=) supports only "
            f"dangling='assume_none', got {dangling!r}"
        )
    src, dst = F.col(src_col), F.col(dst_col)
    # Materialize the loop-invariant inputs ONCE: every round's plan
    # references edges and degrees, and without a barrier Catalyst replays
    # the full edge-build lineage per round — measured 7.3 s -> ~3 s on the
    # catalog entry (3 rounds over a join-derived edge list), and the plan
    # shrinks from ~66 exchanges to the per-round Pregel pair.
    e = barrier(edges.select(src.alias("_src"), dst.alias("_dst")))
    deg = barrier(e.groupBy("_src").agg(F.count("*").alias("_outdeg")))
    if dangling == "redistribute":
        # Arbitrary edge lists: the universe includes pure sinks (nodes
        # that only ever appear as _dst), which hold rank but emit none.
        nodes = barrier(
            e.select(F.col("_src").alias("_node"))
            .union(e.select(F.col("_dst").alias("_node")))
            .distinct()
        )
    else:
        nodes = deg.select(F.col("_src").alias("_node"))
    # _n is the teleport population: every node, or |S| when personalized.
    base_num = (damping_den - damping_num) * PAGERANK_SCALE
    init = f"{PAGERANK_SCALE} div _n"
    teleport = f"{base_num} div ({damping_den} * _n)"
    if sources is None:
        n_df = nodes.agg(F.count("*").alias("_n"))
    else:
        s = (
            sources.select(F.col(source_col).alias("_node"))
            .distinct()
            .join(nodes, "_node", "left_semi")
        )
        nodes = barrier(
            nodes.join(s.withColumn("_in_s", F.lit(1)), "_node", "left")
            .select("_node", F.coalesce("_in_s", F.lit(0)).alias("_in_s"))
        )
        n_df = nodes.agg(F.sum("_in_s").alias("_n"))
        init = f"CASE WHEN _in_s = 1 THEN {init} ELSE 0L END"
        teleport = f"CASE WHEN _in_s = 1 THEN {teleport} ELSE 0L END"
    ranks = nodes.join(F.broadcast(n_df)).select(
        "_node", F.expr(init).alias("_ri")
    )
    prev_ckpt = None
    for _ in range(iterations):
        if dangling == "redistribute":
            # The round reads `ranks` twice (contrib AND the dangling
            # aggregate), so only this mode needs a per-round barrier.
            ranks = prev_ckpt = barrier(ranks, supersedes=prev_ckpt)
        contrib = (
            e.join(ranks, e["_src"] == ranks["_node"])
            .join(deg, "_src")
            .select("_dst", F.expr("_ri div _outdeg").alias("_ci"))
        )
        sums = contrib.groupBy("_dst").agg(F.sum("_ci").alias("_s"))
        mass = "coalesce(_s, 0L)"
        if dangling == "redistribute":
            # Rank mass parked on sink nodes this round: one global
            # aggregate (anti-join against the out-degree table, broadcast
            # back as a single row). Every node then receives
            # damping * (dangling_mass div N) alongside its in-edge sum —
            # all-integer, so still cross-engine exact.
            dm_df = ranks.join(
                deg, ranks["_node"] == deg["_src"], "left_anti"
            ).agg(F.coalesce(F.sum("_ri"), F.lit(0).cast("long")).alias("_dm"))
            mass = f"({mass} + (_dm div _n))"
        update = f"({teleport}) + (({damping_num} * {mass}) div {damping_den})"
        # Rebuild ranks over the FULL node universe (nodes), not just the
        # aggregation's keys: a node with out-edges but zero in-edges
        # receives no contributions yet must keep its teleport share —
        # dropping it would delete its outgoing mass from every later
        # round.
        ranks = nodes.join(
            sums, nodes["_node"] == F.col("_dst"), "left"
        ).join(F.broadcast(n_df))
        if dangling == "redistribute":
            ranks = ranks.join(F.broadcast(dm_df))
        ranks = ranks.select("_node", F.expr(update).alias("_ri"))
    return ranks.select(
        F.col("_node").alias("node"),
        F.col("_ri").cast("long").alias("pr_fp"),
        (F.col("_ri") / F.lit(PAGERANK_SCALE)).alias("pr"),
    )


def triangle_count(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Exact triangle count of an undirected graph given as an edge list
    (either orientation, self-loops and duplicates tolerated), returning a
    single row ``(n_nodes, n_edges, n_triangles)``.

    Algorithm: **degree orientation** (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011 — the canonical
    MapReduce formulation). Canonicalize each edge to ``a < b``, dedup,
    compute degrees, then orient every edge from its lower-(degree, id)
    endpoint to the higher one. Wedges are enumerated ONLY at each edge's
    low-degree endpoint (self-join of the oriented list on the source),
    and a wedge closes into a triangle iff its (v, w) leg exists in the
    oriented list (one semi-ish inner join). Every triangle is produced
    exactly once — at its minimum-(degree, id) vertex.

    Why this survives 100 TB: the naive wedge join explodes as
    ``sum(deg²)`` — one celebrity hub with degree 10⁷ alone yields 10¹⁴
    wedges ("the curse of the last reducer"). Orientation caps every
    out-degree at O(sqrt(edges)) (a node of degree d only keeps neighbors
    of degree ≥ d, and there can be at most 2·|E|/d of those), so the
    wedge stage is O(E^{3/2}) total work, evenly spreadable — the best
    known bound for exact counting. Shuffle budget: 2 exchanges to build
    the oriented list (dedup + degree join, both keyed on the edge), then
    1 self-join exchange on the wedge pivot and 1 on the closing-edge
    key; all rows are (long, long) pairs.

    The closing join's equi-keys are the edge pair itself, so Catalyst
    plans plain shuffled/broadcast hash joins — no theta join, no
    CartesianProduct (the catalog plan sweep enforces this).
    """
    a, b = F.col(src_col), F.col(dst_col)
    # Spark performs no common-subplan reuse across DataFrame references:
    # without a persist, the canonical edge list (often itself a join, as
    # in the co-supply entry) is REBUILT by every consumer below — deg,
    # the orientation join, both wedge legs, the closing probe and the
    # stats row, ~8 replays of the upstream lineage. persist() (not
    # localCheckpoint) keeps the lineage visible to the planner, so scan
    # pushdown assertions and recovery still see the true plan. The
    # blocks stay cached past the returned DataFrame's lifetime (the
    # lazy result still reads them); Spark's LRU eviction reclaims them
    # — callers running many censuses per session can unpersist after
    # materializing.
    und = (
        edges.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionAll(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_d"))
    )
    # Orient from lower (degree, id) to higher: ties broken by id, so the
    # orientation is a strict total order and the oriented list is acyclic.
    da = deg.select(F.col("_n").alias("_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_d").alias("_db"))
    oriented = (
        und.join(da, "_a")
        .join(db, "_b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))),
                F.struct(F.col("_a").alias("u"), F.col("_b").alias("v")),
            )
            .otherwise(F.struct(F.col("_b").alias("u"), F.col("_a").alias("v")))
            .alias("_e")
        )
        .select(F.col("_e.u").alias("_u"), F.col("_e.v").alias("_v"))
        .persist()
    )
    e1 = oriented.select(F.col("_u").alias("_p"), F.col("_v").alias("_x"))
    e2 = oriented.select(F.col("_u").alias("_p"), F.col("_v").alias("_y"))
    wedges = e1.join(e2, "_p").filter(F.col("_x") < F.col("_y"))
    # The closing leg between the two wedge tips can be oriented either way
    # (orientation is by degree, not id), and an OR-of-two-equalities would
    # plan as a nested-loop join — so both sides canonicalize to the
    # (min, max) pair and the match is a plain hashable equi-key.
    closing = oriented.select(
        F.col("_u").alias("_cu"), F.col("_v").alias("_cv")
    )
    tri = wedges.select(
        # _x < _y already (wedge filter), so the pair is canonical as-is.
        F.col("_x").alias("_cu"), F.col("_y").alias("_cv")
    ).join(
        closing.select(
            F.least("_cu", "_cv").alias("_cu"),
            F.greatest("_cu", "_cv").alias("_cv"),
        ),
        ["_cu", "_cv"],
    )
    counts = tri.agg(F.count("*").alias("n_triangles"))
    stats = und.agg(F.count("*").alias("n_edges")).join(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return stats.join(counts).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


def _frontier_relax(
    e: DataFrame,
    init: DataFrame,
    keys: list[str],
    rounds: int,
    until_stable: bool = False,
) -> DataFrame:
    """Bounded min-plus frontier relaxation: the one round body behind
    :func:`bfs_hops`, :func:`multi_source_bfs`, :func:`sssp_rounds` and
    :func:`connected_components`.

    ``e`` is ``(_src, _dst, _w)`` with non-negative integer weights and
    ``init`` is the round-0 distance map ``(*keys, _node, _dist)``, one row
    per (keys, node). ``keys`` label independent traversals that share
    one pass (multi-source BFS keys on the seed, so k seeds cost one
    traversal with k-wide frontiers, not k traversals). Returns
    ``(*keys, _node, _dist)``: the minimum distance over paths of at most
    ``rounds`` edges, exact BIGINT arithmetic.

    Each round relaxes only the edges out of nodes whose distance
    IMPROVED last round (frontier ⋈ e on the source key, 1 exchange),
    min-aggregates the candidates per (keys, node), and FULL JOINs them
    onto the distance map (1 exchange) into one state table
    ``(*keys, _node, _dist, _imp)``. Relaxing from the frontier only is
    equivalent to full Bellman-Ford relaxation — a node that did not
    improve already propagated its distance the round it did — but keeps
    round cost proportional to the improving wave, the reason Pregel
    vote-to-halt beats naive Bellman-Ford at scale. With unit weights the
    improved nodes are exactly the newly reached ones: frontier BFS. With
    zero weights and every node's own id as its round-0 distance it is
    min-label propagation: connected components.

    ``until_stable`` runs to the fixpoint instead, with ``rounds`` as the
    cap: each round's state carries an ``Observation`` of its
    improved-node count, filled by the barrier job that materializes the
    state, so the loop reads convergence at no extra job, stops at the
    first round that improved nothing and raises if round ``rounds`` still
    improved something. That stop is exact: with no improved node the next
    frontier is empty and every later round would return the state
    unchanged. Only the count's comparison with zero is read, so a retried
    task that double-counts cannot change the stop. Bounded traversals
    (BFS, SSSP) do not observe: their catalog entries never reach the
    fixpoint inside their round bound, and the observed round costs more
    CPU. ``graph_sssp_weighted`` at sf0.001, local[4], 24 interleaved
    calls per side in one session: median 2.70 process-tree CPU-s per
    call with the observation against 2.53 without, and a slower JIT
    warm-up.

    Barrier policy, the one for all four kernels: ``e`` is checkpointed
    once (and freed on exit; the returned state never reads it), and each
    round's state table is checkpointed once (the superseded one freed).
    The state is both the next frontier (``where(_imp)``) and the next
    distance map, so without the barrier round r re-evaluates every
    earlier round twice over. Measured on a 4-core host, local[4], sf0.1,
    process-tree CPU-s (jobs) per entry — graph_sssp_weighted /
    graph_bfs_purchases / graph_closeness_centrality: this policy 21.0
    (28) / 17.5 (28) / 7.5 (32); no state barrier 22.7–24.4 (23) /
    17.5–19.0 (23) / 9.6–11.0 (21); checkpointing only the frontier 31.9
    (44) / 25.4 (44) / 11.9 (57). More jobs, less CPU: a checkpoint job
    costs less than re-running the rounds it replaces.

    At 100 TB: pre-partition ``e`` by ``_src`` once so every round's
    frontier join reuses the layout; state is O(reached) rows.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = barrier(e)
    try:
        on = [*keys, "_node"]
        state = init.withColumn("_imp", F.lit(True))
        for r in range(rounds):
            frontier = state.where("_imp")
            cand = (
                frontier.join(e, frontier["_node"] == e["_src"])
                .groupBy(*keys, F.col("_dst").alias("_node"))
                .agg(F.min(F.col("_dist") + F.col("_w")).alias("_cand"))
            )
            nxt = (
                state.drop("_imp")
                .join(cand, on, "full")
                .select(
                    *on,
                    F.least("_dist", "_cand").alias("_dist"),
                    # NULL _cand (not reached this round) is not an improvement
                    F.coalesce(
                        F.col("_cand") < F.col("_dist"), F.col("_dist").isNull()
                    ).alias("_imp"),
                )
            )
            if until_stable:
                obs = Observation()
                nxt = nxt.observe(obs, F.sum(F.col("_imp").cast("long")).alias("_n"))
            # round 0's state is the caller's init, not a checkpoint
            state = barrier(nxt, supersedes=state if r else None)
            # an empty state sums to NULL
            if until_stable and not obs.get["_n"]:
                break
        else:
            if until_stable:
                raise RuntimeError(
                    f"did not converge in {rounds} rounds: the graph has a "
                    "longer path than the round bound; raise it"
                )
    finally:
        free_checkpoint(e)
    return state.drop("_imp")


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected edge list: one row per node,
    ``(id_col, component)``, with component = the minimum node id
    reachable from it. Dedup pipelines keep ``id == component`` as each
    duplicate cluster's representative; graph entries contract or score
    the component partition.

    Min-label propagation as :func:`_frontier_relax` with zero weights on
    the mirrored edge list and every node's own id as its round-0 label:
    only nodes whose label fell propagate, and the loop ends at the first
    round that changes no label — O(diameter) rounds, one barrier each
    and no probe job. Duplicate graphs are unions of near-cliques and the
    catalog's purchase graphs converge in at most 14 rounds at sf0.1, so
    the diameter bound is the right trade for one kernel.

    Null endpoints (and null ids in ``nodes``) are dropped. A declared
    ``nodes`` set is a contract on BOTH output and graph: edges touching
    an id outside it are dropped, otherwise a foreign endpoint would
    carry its label in. Raises if round ``max_iter`` still changed a
    label: a partial propagation merges some clusters and not others,
    wrong answers rather than degraded performance."""
    e = edges.select(
        F.col(src).cast("long").alias("_src"), F.col(dst).cast("long").alias("_dst")
    ).dropna()
    if nodes is not None:
        n = nodes.select(F.col(id_col).cast("long").alias("_node")).dropna().distinct()
        e = e.join(n.withColumnRenamed("_node", "_src"), "_src", "left_semi").join(
            n.withColumnRenamed("_node", "_dst"), "_dst", "left_semi"
        )
    e = e.unionByName(e.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst")))
    if nodes is None:
        n = e.select(F.col("_src").alias("_node")).distinct()
    labels = _frontier_relax(
        e.withColumn("_w", F.lit(0).cast("long")),
        n.select("_node", F.col("_node").alias("_dist")),
        [],
        max_iter,
        until_stable=True,
    )
    return labels.select(F.col("_node").alias(id_col), F.col("_dist").alias("component"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str,
    dst_col: str,
    node_col: str,
    max_hops: int,
) -> DataFrame:
    """Bounded-hop breadth-first search over a directed edge list: the
    minimum hop distance (0..``max_hops``) from any node in ``sources`` to
    every reachable node within ``max_hops`` hops. Returns
    ``(node, hops)`` — integers, so cross-engine exact by construction.
    :func:`sssp_rounds` with unit weights."""
    dist = sssp_rounds(
        edges.withColumn("_unit", F.lit(1)),
        sources,
        src_col,
        dst_col,
        "_unit",
        node_col,
        max_hops,
    )
    return dist.select("node", F.col("dist").cast("int").alias("hops"))


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str,
    dst_col: str,
    seed_col: str,
    max_hops: int,
) -> DataFrame:
    """Per-seed bounded-hop BFS: minimum hop distance from EACH seed to
    every node reachable within ``max_hops`` — :func:`bfs_hops` with the
    distance map keyed by (seed, node) instead of node, the primitive
    under closeness/ego-network statistics. Returns
    ``(seed, node, hops)``, integers, cross-engine exact. The seed label
    rides the frontier rows of :func:`_frontier_relax`, so state is
    O(k · reached)."""
    init = (
        seeds.select(
            F.col(seed_col).alias("_seed"), F.col(seed_col).alias("_node")
        )
        .distinct()
        .select("_seed", "_node", F.lit(0).cast("long").alias("_dist"))
    )
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        F.lit(1).cast("long").alias("_w"),
    )
    dist = _frontier_relax(e, init, ["_seed"], max_hops)
    return dist.select(
        F.col("_seed").alias("seed"),
        F.col("_node").alias("node"),
        F.col("_dist").cast("int").alias("hops"),
    )


def sssp_rounds(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    node_col: str,
    rounds: int,
) -> DataFrame:
    """Bounded Bellman-Ford: minimum WEIGHTED distance from any node in
    ``sources`` to every node reachable within ``rounds`` edges, over a
    directed edge list with non-negative integer weights. Returns
    ``(node, dist)`` — exact BIGINT arithmetic, so cross-engine exact.
    :func:`_frontier_relax` (round shape, barrier policy and scale notes
    there) with the edge weights as given."""
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    init = (
        sources.select(F.col(node_col).alias("_node"))
        .distinct()
        .select("_node", F.lit(0).cast("long").alias("_dist"))
    )
    dist = _frontier_relax(e, init, [], rounds)
    return dist.select(F.col("_node").alias("node"), F.col("_dist").alias("dist"))


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int,
) -> DataFrame:
    """SYNCHRONOUS label propagation (community detection): every node
    starts labeled with itself; each round, every node adopts the most
    frequent label among its OUT-neighbors (the nodes it points to —
    mirror the edge list for undirected semantics, as the catalog entry
    does), ties broken by the SMALLEST label; a node with no out-edges
    keeps its label. Returns ``(node, label)`` after ``iterations``
    rounds.

    The deterministic tie-break is what makes this oracle-replayable:
    textbook LPA breaks ties randomly and is therefore unverifiable
    across engines; (count DESC, label ASC) is a total order, so two
    engines agree bit-for-bit on every round. Synchronous (Jacobi-style)
    update for the same reason — asynchronous LPA depends on visit
    order, which no distributed engine should promise.

    Round shape = the Pregel pair: one join keyed on the edge source
    (neighbor labels), one aggregation on (node, label) for the votes,
    one per-node window for the argmax, then a left join back onto the
    node universe so isolated nodes keep their labels. Each round's labels
    go behind a barrier because the round reads them twice (votes +
    carry-forward), mirroring ``pagerank``'s redistribute mode.
    ``iterations`` is a small fixed constant by contract; communities
    typically stabilize in a handful of rounds on short-diameter graphs.
    """
    from pyspark.sql.window import Window

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = barrier(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    )
    nodes = barrier(
        e.select(F.col("_src").alias("_node"))
        .union(e.select(F.col("_dst").alias("_node")))
        .distinct()
    )
    labels = nodes.select("_node", F.col("_node").alias("_lab"))
    prev_ckpt = None
    w = Window.partitionBy("_vnode").orderBy(
        F.col("_c").desc(), F.col("_vlab").asc()
    )
    for _ in range(iterations):
        labels = prev_ckpt = barrier(labels, supersedes=prev_ckpt)
        votes = (
            e.join(labels, e["_dst"] == labels["_node"])
            .groupBy(
                F.col("_src").alias("_vnode"), F.col("_lab").alias("_vlab")
            )
            .agg(F.count("*").alias("_c"))
        )
        pick = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("_vnode").alias("_pnode"), F.col("_vlab").alias("_plab")
            )
        )
        labels = labels.join(
            pick, labels["_node"] == F.col("_pnode"), "left"
        ).select(
            "_node", F.coalesce(F.col("_plab"), F.col("_lab")).alias("_lab")
        )
    return labels.select(
        F.col("_node").alias("node"), F.col("_lab").alias("label")
    )


def kcore_peel(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    rounds: int,
) -> DataFrame:
    """Bounded k-core PEELING: ``rounds`` synchronous rounds of "drop
    every node with degree < k (and its edges)" over an undirected edge
    list (canonicalized + deduped like ``triangle_count``). Returns the
    surviving ``(node, degree)`` after the last round — the dense-core
    extraction used for graph-quality curation (spam farms and
    boilerplate rings peel away; genuine dense communities survive).

    A FIXED round count keeps the operator oracle-replayable (chained
    CTEs) and the lineage shallow; it is an upper bound on the true
    k-core (peeling is monotone — nodes only ever leave), converging to
    it once a round removes nothing. An exact variant runs the same
    round until an observed round removes nothing (the convergence stop
    of :func:`_frontier_relax`); the per-round dataflow — one degree
    aggregation + one semi-join per endpoint to drop dead edges — is
    identical, so the bounded form is the honest benchmarkable unit.

    Scale shape per round: degree aggregation (1 exchange of (node,
    count)), then two semi-joins keyed on the endpoints (broadcastable
    while the survivor set is small; AQE picks). Edges are persisted
    per round and unpersisted after the next round materializes.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got k={k}, rounds={rounds}")
    a, b = F.col(src_col), F.col(dst_col)
    cur = barrier(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = None
    for _ in range(rounds):
        deg = (
            cur.select(F.col("_a").alias("_n"))
            .unionAll(cur.select(F.col("_b").alias("_n")))
            .groupBy("_n")
            .agg(F.count("*").alias("_d"))
        )
        keep = deg.filter(F.col("_d") >= k).select("_n")
        cur = barrier(
            cur.join(keep, cur["_a"] == keep["_n"], "left_semi")
            .join(keep, F.col("_b") == keep["_n"], "left_semi"),
            supersedes=cur,
        )
    final_deg = (
        cur.select(F.col("_a").alias("_n"))
        .unionAll(cur.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_d"))
        .filter(F.col("_d") >= k)
    )
    return final_deg.select(
        F.col("_n").alias("node"), F.col("_d").cast("long").alias("degree")
    )


def truss_peel_rounds(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    rounds: int,
) -> list[DataFrame]:
    """Bounded k-TRUSS peeling: ``rounds`` synchronous rounds of "drop
    every edge supported by fewer than k−2 triangles", recomputing
    per-edge triangle support each round over the canonicalized
    undirected edge list. Returns the edge frames for rounds 0..rounds
    (round 0 = the input, canonicalized), each behind a barrier so
    callers can consume all of them without lineage blow-up — the
    trajectory IS the result for audit-style consumers.

    k-truss strictly refines k-core (``kcore_peel``): a (k)-truss edge
    needs k−2 common neighbours, not merely k−1 neighbours per endpoint
    — the standard cohesive-subgraph ladder. As with the other bounded
    iterators here, a FIXED round count keeps the operator
    oracle-replayable as chained CTEs and is an upper bound on the true
    truss (peeling is monotone), exact once a round removes nothing;
    production runs the identical round body under a driver-loop
    convergence probe.

    Scale shape per round: ONE support aggregation — edge ⋈ sym ⋈ sym
    on endpoint keys (the wedge-closing equi-join of
    ``triangle_count``, never an all-pairs product) — then an
    anti-join of under-supported edges. Superseded rounds stay
    checkpointed because the caller reads the whole trajectory;
    one-shot consumers should ``free_checkpoint`` all but the last.
    """
    if k < 3 or rounds < 1:
        raise ValueError(f"need k >= 3 and rounds >= 1, got k={k}, rounds={rounds}")
    a, b = F.col(src_col), F.col(dst_col)
    cur = barrier(
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    out = [cur]
    for _ in range(rounds):
        sym = cur.select(
            F.col("_a").alias("_src"), F.col("_b").alias("_dst")
        ).unionAll(
            cur.select(F.col("_b").alias("_src"), F.col("_a").alias("_dst"))
        )
        sup = (
            cur.join(
                sym.select(
                    F.col("_src").alias("_ua"), F.col("_dst").alias("_wa")
                ),
                F.col("_a") == F.col("_ua"),
            )
            .join(
                sym.select(
                    F.col("_src").alias("_ub"), F.col("_dst").alias("_wb")
                ),
                (F.col("_b") == F.col("_ub"))
                & (F.col("_wa") == F.col("_wb")),
            )
            .groupBy("_a", "_b")
            .agg(F.count("*").alias("_tri"))
        )
        cur = barrier(
            cur.join(sup, ["_a", "_b"], "left")
            .filter(F.coalesce(F.col("_tri"), F.lit(0)) >= k - 2)
            .select("_a", "_b")
        )
        out.append(cur)
    return out
