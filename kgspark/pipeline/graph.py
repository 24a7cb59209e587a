"""Iterative graph algorithms on edge DataFrames.

Connected components via min-label propagation (GraphFrames-style) —
reference analog: recursive DFS at entity_standardization.py:280-319
(stack-bound, single-machine).  Ours is the standard large-graph
formulation: labels converge to the component minimum in O(diameter)
join+agg rounds (SURVEY §4 "iterative CC at scale").  It is the one CC
algorithm: entity linking, the incremental streaming fold, community
inference and the analytics all call ``connected_components``.  A
large-star/small-star variant (O(log n) rounds) was timed against it on
linking's pair graph and removed (BENCH.md §6a).

Every iterative loop cuts lineage one way, an eager ``localCheckpoint``
at a fixed per-algorithm cadence: uncut, each round's self-join multiplies
the logical plan until Catalyst analysis dominates or OOMs the driver.

Edges may carry an optional group key column (e.g. ``url``) so components
are computed per group in one job.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    key: str | None = None,
) -> DataFrame:
    """Return (key?, node, component); component = min label in the
    (undirected) component — the reference DFS also follows both edge
    directions (entity_standardization.py:303-310).

    Runs until no label changes: labels only decrease, over a finite
    set, so the loop always ends, after O(diameter) rounds.  Lineage is
    cut every 3 rounds.  Convergence is tested only every 2 rounds: the
    change-detection join is a full extra job per round — batching the
    check halves the job count at the cost of at most one no-op
    propagation round."""
    kcols = [key] if key else []
    # cut the projected input once, before the two-direction union: every
    # read and every round would otherwise re-run the caller's lineage
    # (e.g. the LSH self-join and its verifier) and re-analyze its plan —
    # measured 28 s of driver time on a 3k-edge join-tree input whose plan
    # multiplied ~64x into the first round
    inp = edges.select(
        *kcols, F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    und = (
        inp.union(inp.select(*kcols, F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    # the label table's key is aliased (_lk): labels derive from und, and
    # joining two lineages of the same column is ambiguous in Spark
    lkcols = ["_lk"] if key else []
    labels = (
        und.select(*[F.col(k).alias("_lk") for k in kcols],
                   F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )

    for it in itertools.count(1):
        cond = [und["b"] == labels["node"]]
        if key:
            cond.append(und[key] == labels["_lk"])
        prop = und.join(labels, cond, "inner").select(
            *[und[k].alias("_lk") for k in kcols],
            und["a"].alias("node"),
            labels["component"].alias("component"),
        )
        new_labels = (
            labels.select(*lkcols, "node", "component")
            .union(prop)
            .groupBy(*lkcols, "node")
            .agg(F.min("component").alias("component"))
        )
        if it % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        new_labels = new_labels.persist()
        changed = 1
        if it % 2 == 0:
            changed = (
                new_labels.withColumnRenamed("component", "c_new")
                .join(labels, [*lkcols, "node"])
                .filter(F.col("c_new") != F.col("component"))
                .limit(1)
                .count()
            )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if key:
        labels = labels.withColumnRenamed("_lk", key)
    return labels


def incremental_connected_components(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fold a batch of NEW edges into an existing (node, component)
    labeling — the streaming path's per-batch step.

    A CC labeling is a connectivity-preserving contraction: the star
    edges (node → component) have the same components as the edge set
    they label, and component ids are member-node minima, so

        CC(E_old ∪ E_new) == CC(star(prev_labels) ∪ E_new)

    The fold is one ``connected_components`` call over the star edges
    and the batch.  Roots stay in as (root, root) self-loops, so a
    singleton component keeps its row.  Every old component enters with
    radius 1, so the rounds are bounded by the chain of components the
    batch merges, not by the old components' diameters.

    Returns (node, component) identical to a full recompute over the
    union edge set (asserted in tests), including brand-new nodes and
    batches that merge previously separate components."""
    stars = prev_labels.select(
        F.col("node").alias("src"), F.col("component").alias("dst"))
    batch = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return connected_components(stars.union(batch))


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst",
            key: str | None = None) -> DataFrame:
    """Undirected degree per node (parallel edges deduplicated),
    reference analog: analyze_kg_data.py:201-217 via networkx."""
    kcols = [key] if key else []
    und = (
        edges.select(*kcols, F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(*kcols, F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    return und.groupBy(*kcols, F.col("a").alias("node")).agg(
        F.count("*").alias("degree")
    )


def eigenvector_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    tol: float | None = 1e-6,
    raise_on_no_convergence: bool = False,
) -> DataFrame:
    """Eigenvector centrality by power iteration over the undirected
    simple graph — iterative join-agg (the PageRank skeleton), reference
    analog: networkx eigenvector_centrality at visualization.py:170-177
    (max_iter=1000 driver-side; ours distributes).

    Convergence is the networkx rule — L1 delta of the iterate,
    ``sum(|x_new - x_old|) < n * tol`` — not a norm-estimate comparison,
    which oscillating bipartite/periodic iterates can fool (two distinct
    vectors with equal norms).  The delta test runs every 2 iterations
    (batched like connected_components' convergence checks), and lineage
    is cut every 5: each skipped check saves one driver-synchronous
    job per iteration — on a real cluster a full scheduling round-trip —
    and batching can only ever run EXTRA iterations past convergence,
    never stop short, so the returned iterate is at least as converged.
    ``tol=None`` runs exactly ``max_iter``
    iterations (deterministic, SQL-replayable — the oracle mode).
    ``raise_on_no_convergence`` surfaces hitting max_iter without
    converging, like networkx's PowerIterationFailedConvergence.

    Returns (node, centrality) with the L2-normalized dominant
    eigenvector, like networkx; no rows for an empty edge set."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        und.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "node string, centrality double")
    x = nodes.withColumn("score", F.lit(1.0 / (n ** 0.5))).persist()

    converged = False
    for it in range(max_iter):
        # y = A x  (sum neighbor scores); every node has >=1 und neighbor
        y = (
            und.join(x, und["b"] == x["node"])
            .groupBy(und["a"].alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        norm = y.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw")))).collect()[0][0]
        if not norm:
            break
        new_x = y.select("node", (F.col("raw") / F.lit(norm)).alias("score"))
        if (it + 1) % 5 == 0:
            new_x = new_x.localCheckpoint(eager=True)
        new_x = new_x.persist()
        # the final iteration always checks: convergence reached on an
        # odd last round must not raise a spurious no-convergence error
        if tol is not None and ((it + 1) % 2 == 0 or it == max_iter - 1):
            delta = (
                new_x.withColumnRenamed("score", "s_new")
                .join(x, "node")
                .agg(F.sum(F.abs(F.col("s_new") - F.col("score"))).alias("d"))
                .collect()[0][0]
            )
            converged = delta is not None and delta < n * tol
        x.unpersist()
        x = new_x
        if converged:
            break
    if tol is not None and not converged and raise_on_no_convergence:
        raise RuntimeError(
            f"eigenvector_centrality did not converge within {max_iter} "
            f"iterations (tol={tol})"
        )
    und.unpersist()
    return x.select("node", F.col("score").alias("centrality"))


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst",
                    key: str | None = None) -> DataFrame:
    """Per-node triangle count over the undirected simple graph via the
    canonical-orientation 2-hop join (each triangle counted once as
    a<b<c, then credited to all three corners).  The A-9 clustering
    building block; shuffle cost |E|^{3/2}-ish, AQE-skew-safe.  With
    ``key``, triangles are counted per (key, node) — one job for all
    periods instead of a driver-side loop."""
    kcols = [key] if key else []
    und = (
        edges.select(*kcols, F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(*kcols, F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    fwd = und.filter(F.col("a") < F.col("b")).persist()  # canonical orientation
    e1 = fwd.select(*kcols, F.col("a").alias("x"), F.col("b").alias("y"))
    # alias the group key on the second wedge side: both sides derive
    # from fwd, and joining on the same lineage column is ambiguous
    e2 = fwd.select(
        *([F.col(key).alias("_k2")] if key else []),
        F.col("a").alias("y2"), F.col("b").alias("z"),
    )
    wcond = [e1["y"] == e2["y2"]] + ([e1[key] == e2["_k2"]] if key else [])
    wedges = e1.join(e2, wcond).select(*[e1[k] for k in kcols], "x", "y", "z")
    tri = wedges.join(
        fwd.select(*kcols, F.col("a").alias("x"), F.col("b").alias("z")),
        [*kcols, "x", "z"],
    ).select(*kcols, "x", "y", "z")
    corners = (
        tri.select(*kcols, F.col("x").alias("node"))
        .union(tri.select(*kcols, F.col("y").alias("node")))
        .union(tri.select(*kcols, F.col("z").alias("node")))
    )
    counts = corners.groupBy(*kcols, "node").agg(F.count("*").alias("triangles"))
    all_nodes = und.select(*kcols, F.col("a").alias("node")).distinct()
    fwd.unpersist()
    return all_nodes.join(counts, [*kcols, "node"], "left").na.fill({"triangles": 0})


def clustering_coefficients(edges: DataFrame, src: str = "src", dst: str = "dst",
                            key: str | None = None) -> DataFrame:
    """Per-node local clustering coefficient c = 2T / (d(d-1)); A-9's
    avg-clustering = mean over nodes (networkx average_clustering)."""
    kcols = [key] if key else []
    tri = triangle_counts(edges, src, dst, key)
    deg = degrees(edges, src, dst, key)
    return (
        tri.join(deg, [*kcols, "node"])
        .select(
            *kcols, "node", "triangles", "degree",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0).alias("clustering"),
        )
    )


def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_levels: int = 4,
    max_rounds: int = 12,
) -> DataFrame:
    """Deterministic distributed Louvain community detection — the
    modularity-optimizing counterpart of the reference's
    ``community.best_partition`` call (visualization.py:190-191,
    viz-only).  Two classic phases per level (Blondel et al. 2008):

      1. **Local moves**: every node considers its neighbors' communities
         and moves to the one with the best modularity gain.  The
         sequential algorithm is visit-order dependent; here moves are
         SYNCHRONOUS but parity-gated — on round ``t`` only nodes with
         ``pmod(xxhash64(node)+t, 2) == 0`` may move — which makes the
         result order-free and prevents the two-community label-swap
         oscillation synchronous updates are prone to.  A node moves only
         on a STRICTLY positive gain vs staying (ties keep the current
         community), so each allowed move increases modularity and the
         phase terminates.
      2. **Contraction**: communities collapse to supernodes (edge
         weights summed, intra-community weight becomes a self-loop) and
         phase 1 reruns on the condensed graph, until a level makes no
         move or ``max_levels`` is hit.

    Gain comparison uses exact integer arithmetic in decimal(38,0) —
    ``2m·k_{i,c} - k_i·Σ'_tot(c)`` — never floats, so results are
    bit-stable across partitionings and runs (float partial-sum order
    would not be).  Community ids are relabeled to their minimum member
    node id after every level, keeping labels stable and comparable.

    Scale shape per move round: one hash join (neighbor communities) +
    two aggregations on (node, community) + one on community — all
    key-partitioned shuffles, AQE/skew safe; per level one contraction
    join.  Total jobs O(levels · rounds), each O(|E|) shuffle.  Lineage
    is cut every 3 move rounds and at every contraction.

    Returns (node, community) for every endpoint of ``edges``."""
    DEC = "decimal(38,0)"
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # symmetric simple weighted graph, w=1 per undirected neighbor pair
    # (parallel edges collapse — the reference runs on an nx.Graph too)
    und = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
        .persist()
    )
    loops = und.select(F.col("a").alias("node"), "w").limit(0)
    assign: DataFrame | None = None  # original node -> current supernode

    for level in range(max_levels):
        # the node universe must include LOOP-ONLY supernodes (a
        # community that fully merged earlier contracts to a supernode
        # with only a self-loop and no row in und): dropping them from
        # deg/comm would (a) silently lose their original nodes at the
        # assign-update inner join and (b) shrink 2m level over level,
        # skewing every gain comparison — Louvain's m is conserved
        # through contraction by construction
        kin = und.groupBy(F.col("a").alias("node")).agg(F.sum("w").alias("_kin"))
        nodes = (
            und.select(F.col("a").alias("node"))
            .union(loops.select("node"))
            .distinct()
        )
        deg = (
            nodes.join(kin, "node", "left")
            .join(loops.select("node", (2 * F.col("w")).alias("_lw")), "node", "left")
            .select("node", (F.coalesce("_kin", F.lit(0))
                             + F.coalesce("_lw", F.lit(0))).alias("k"))
            .persist()
        )
        two_m = deg.agg(F.sum("k")).collect()[0][0] or 0
        if two_m == 0:
            deg.unpersist()
            break
        comm = deg.select("node").withColumn("community", F.col("node")).persist()
        moved_in_level = False
        idle_rounds = 0
        for it in range(max_rounds):
            # w(i -> community c) over i's neighbors, plus a zero row for
            # i's OWN community so staying is always a scored candidate
            k_ac = (
                und.join(
                    comm.select(F.col("node").alias("b"), F.col("community").alias("cb")),
                    "b",
                )
                .select(F.col("a").alias("node"), "cb", "w")
                .unionByName(
                    comm.select("node", F.col("community").alias("cb"),
                                F.lit(0).cast("long").alias("w"))
                )
                .groupBy("node", "cb")
                .agg(F.sum("w").alias("k_ic"))
            )
            sig = (
                comm.join(deg, "node")
                .groupBy(F.col("community").alias("cb"))
                .agg(F.sum("k").alias("tot"), F.count("*").alias("csize"))
            )
            own_sz = sig.select(F.col("cb").alias("community"),
                                F.col("csize").alias("own_csize"))
            # exact-integer gain of landing in cb (own community scored
            # with i removed): 2m*k_ic - k_i*(tot(cb) - [cb==own]*k_i).
            # Singleton-swap symmetry breaker (the one oscillation parity
            # gating cannot stop): two adjacent singleton communities both
            # prefer each other's label and would swap forever, so a
            # singleton may only move into another singleton with a
            # SMALLER label — deterministic, and the blocked side joins
            # the mover's community next round.
            cand = (
                k_ac.join(sig, "cb")
                .join(comm, "node")
                .join(deg, "node")
                .join(own_sz, "community")
                .filter(
                    (F.col("cb") == F.col("community"))
                    | ~(
                        (F.col("own_csize") == 1)
                        & (F.col("csize") == 1)
                        & (F.col("cb") > F.col("community"))
                    )
                )
                .withColumn(
                    "score",
                    F.lit(int(two_m)).cast(DEC) * F.col("k_ic").cast(DEC)
                    - F.col("k").cast(DEC)
                    * (
                        F.col("tot")
                        - F.when(F.col("cb") == F.col("community"), F.col("k")).otherwise(F.lit(0))
                    ).cast(DEC),
                )
            )
            scored = cand.groupBy("node", "community").agg(
                F.min_by(
                    "cb",
                    F.struct((-F.col("score")).alias("ns"), F.col("cb").alias("c")),
                ).alias("best_cb"),
                F.max("score").alias("best_score"),
                F.max(
                    F.when(F.col("cb") == F.col("community"), F.col("score"))
                ).alias("own_score"),
            )
            gate = F.pmod(F.xxhash64("node") + F.lit(it), F.lit(2)) == 0
            new_comm = scored.select(
                "node",
                F.when(gate & (F.col("best_score") > F.col("own_score")), F.col("best_cb"))
                .otherwise(F.col("community"))
                .alias("community"),
                (gate & (F.col("best_score") > F.col("own_score"))).alias("_moved"),
            )
            if (it + 1) % 3 == 0:
                new_comm = new_comm.localCheckpoint(eager=True)
            new_comm = new_comm.persist()
            n_moved = new_comm.filter("_moved").count()
            new_comm = new_comm.drop("_moved")
            comm.unpersist()
            comm = new_comm
            if n_moved > 0:
                moved_in_level = True
                idle_rounds = 0
            else:
                idle_rounds += 1
                if idle_rounds >= 2:  # both parities idle -> converged
                    break
        # stable labels: community := min member supernode id
        relab = comm.groupBy("community").agg(F.min("node").alias("clabel"))
        comm2 = (
            comm.join(relab, "community")
            .select("node", F.col("clabel").alias("community"))
            .persist()
        )
        comm2.count()
        comm.unpersist()
        prev_assign = assign
        if assign is None:
            assign = comm2.select(F.col("node").alias("orig"), "community")
        else:
            assign = (
                assign.join(
                    comm2.select(F.col("node").alias("community"),
                                 F.col("community").alias("_nc")),
                    "community",
                )
                .select("orig", F.col("_nc").alias("community"))
            )
        assign = assign.localCheckpoint(eager=True).persist()
        assign.count()
        if prev_assign is not None:
            prev_assign.unpersist()
        if not moved_in_level:
            comm2.unpersist()
            deg.unpersist()
            break
        # contract: supernode graph with summed weights + internal
        # self-loop mass (each undirected pair appears twice in und)
        ca = comm2.select(F.col("node").alias("a"), F.col("community").alias("_c2a"))
        cb = comm2.select(F.col("node").alias("b"), F.col("community").alias("_c2b"))
        e2 = und.join(ca, "a").join(cb, "b").select(
            F.col("_c2a").alias("na"), F.col("_c2b").alias("nb"), "w")
        new_und = (
            e2.filter(F.col("na") != F.col("nb"))
            .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
            .agg(F.sum("w").alias("w"))
        )
        internal = (
            e2.filter(F.col("na") == F.col("nb"))
            .groupBy(F.col("na").alias("node"))
            .agg((F.sum("w") / 2).cast("long").alias("w"))
        )
        carried = (
            loops.join(comm2, "node")
            .groupBy(F.col("community").alias("node"))
            .agg(F.sum("w").alias("w"))
        )
        new_loops = (
            internal.unionByName(carried)
            .groupBy("node")
            .agg(F.sum("w").alias("w"))
        )
        new_und = new_und.localCheckpoint(eager=True).persist()
        new_loops = new_loops.localCheckpoint(eager=True).persist()
        new_und.count()
        und.unpersist()
        und = new_und
        loops = new_loops
        comm2.unpersist()
        deg.unpersist()
    und.unpersist()
    if assign is None:
        return edges.sparkSession.createDataFrame([], "node string, community string")
    return assign.select(F.col("orig").alias("node"), "community")


def betweenness_centrality_sampled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_sources: int | None = 64,
    normalized: bool = True,
    max_depth: int = 60,
    group_col: str | None = None,
    require_converged: bool = False,
) -> DataFrame:
    """Approximate betweenness centrality for LARGE graphs: k-source
    Brandes (Brandes & Pich 2007 pivot sampling) as a fully distributed
    iterative DataFrame BFS — the scale path `node_importance` takes when
    the graph exceeds the driver-side `betweenness_centrality_small`
    guard (reference analog stays networkx-exact at viz scale,
    visualization.py:168).

    Sources are picked DETERMINISTICALLY: the `k_sources` highest-degree
    nodes (ties broken by smallest node id) — reproducible across runs,
    and high-degree pivots empirically dominate shortest-path mass in
    the skewed web/KG graphs this pipeline builds.  With
    ``k_sources >= n`` every node is a source and the result equals
    exact Brandes (the unit tests rely on this identity).

    Algorithm (all stages are joins/groupBys over (source, node) keyed
    frames — k sources advance in ONE wave per BFS depth, so the job
    count is O(diameter), not O(k·diameter)):

      forward:  frontier_{d+1} = (frontier_d ⋈ edges) ∖ visited,
                sigma summed over predecessors (path counts);
      backward: for d = D..1, delta_v += Σ_w σ_v/σ_w · (1+delta_w)
                over BFS-tree edges (v at d-1, w at d);
                bc_w += delta_w for every non-source w.

    Estimator: bc_est(v) = (n / k_eff) · Σ_{s∈sample} delta_s(v),
    scaled like the exact variant (÷2 for the undirected double count,
    ×1/((n-1)(n-2)) when ``normalized``) — an unbiased estimate under
    uniform sampling, a deterministic pivot approximation here.

    ``k_sources=None`` makes EVERY node a source (exact Brandes without
    counting the nodes first).  ``group_col`` names a grouping column
    on ``edges``: each group is an independent graph and every
    join/groupBy key carries the group, so N per-period graphs advance
    in ONE BFS wave per depth instead of N sequential jobs (reference
    analog: the per-year networkx betweenness loop at
    policy_comparative_analyzer.py:139-151).  Sources, k_eff and the
    normalization n are then all per-group.

    ``require_converged`` guards the BFS horizon (VERDICT r4 item 4):
    when the wave still has a live frontier at ``max_depth``, one extra
    level is probed and, if non-empty, ValueError is raised instead of
    silently truncating shortest paths — callers whose oracle unrolls
    the same fixed horizon (kg_period_betweenness) pass True so a
    diameter beyond the horizon can never produce a wrong-but-matching
    pair of results; auto-extending is deliberately NOT offered there
    because the SQL replay cannot extend with it.

    Returns a DataFrame ([group,] node, btw) covering every node
    (unreached → 0).
    """
    spark = edges.sparkSession
    # one code path: a constant group key when ungrouped (dropped on
    # return) — the per-group estimator then degenerates to the scalars
    gsrc = F.col(group_col) if group_col else F.lit("")
    # und's group column is named "ug" (not "g"): every BFS frame derives
    # from und, so a same-named equi-join condition would be flagged as an
    # ambiguous self-join reference — distinct names keep each join
    # condition resolvable
    und = (
        edges.select(gsrc.alias("ug"), F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(gsrc.alias("ug"), F.col(dst).alias("a"),
                            F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # cut the CALLER's lineage once before looping: every BFS level joins
    # und, so the per-level logical plan would otherwise embed the input's
    # full subtree O(depth) times — with a complex upstream (e.g. the
    # per-period triples join) Catalyst re-analysis dominates wall time
    # long before any executor works (same hazard the CC loops fixed);
    # the BFS frames are then cut every 4 levels
    und = und.localCheckpoint(eager=True).persist()
    all_nodes = und.select(F.col("ug").alias("g"),
                           F.col("a").alias("node")).distinct().persist()
    n = all_nodes.count()
    if n == 0:
        und.unpersist()
        all_nodes.unpersist()
        schema = (f"{group_col} string, " if group_col else "") + \
            "node string, btw double"
        return spark.createDataFrame([], schema)

    deg = und.groupBy(F.col("ug").alias("g"), F.col("a").alias("node")).agg(
        F.count("*").alias("degree"))
    # No static broadcast hint here: the sources subtree also feeds unions
    # and aggregates (where a join hint is dropped with a warning), and the
    # frontier frames derived from it GROW level by level — AQE picks
    # broadcast for the genuinely small sides from runtime stats instead.
    rank_w = Window.partitionBy("g").orderBy(F.col("degree").desc(), F.col("node"))
    ranked = deg.withColumn("_rk", F.row_number().over(rank_w))
    if k_sources is not None:
        ranked = ranked.filter(F.col("_rk") <= k_sources)
    sources = ranked.select("g", F.col("node").alias("source"))
    # per-group n and k_eff for the estimator scale (tiny: one row per
    # group; broadcast into the final join)
    ncnt = all_nodes.groupBy("g").agg(F.count("*").alias("_n"))
    keff = sources.groupBy("g").agg(F.count("*").alias("_keff"))

    # ---- forward BFS: visited = (g, source, node, dist, sigma) ----
    frontier = sources.select(
        "g", "source", F.col("source").alias("node"),
        F.lit(0).alias("dist"), F.lit(1.0).alias("sigma"),
    ).persist()
    visited = frontier
    per_level: list[DataFrame] = [frontier]
    d = 0
    converged = False
    while d < max_depth:
        nxt = (
            frontier.join(und, (frontier["g"] == und["ug"])
                          & (frontier["node"] == und["a"]))
            .select("g", "source", F.col("b").alias("node"), "sigma")
            .join(visited.select("g", "source", "node"),
                  ["g", "source", "node"], "left_anti")
            .groupBy("g", "source", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(d + 1))
            .select("g", "source", "node", "dist", "sigma")
        )
        if (d + 1) % 4 == 0:
            nxt = nxt.localCheckpoint(eager=True)
        nxt = nxt.persist()
        if nxt.isEmpty():
            nxt.unpersist()
            converged = True
            break
        new_visited = visited.union(nxt)
        if (d + 1) % 4 == 0:
            new_visited = new_visited.localCheckpoint(eager=True)
        new_visited = new_visited.persist()
        if visited is not frontier:
            visited.unpersist()
        visited = new_visited
        frontier = nxt
        d += 1
        per_level.append(nxt)

    if require_converged and not converged:
        # probe ONE level past the horizon: a non-empty frontier there
        # means real shortest paths were truncated — fail loudly rather
        # than return silently-wrong centralities
        probe = (
            frontier.join(und, (frontier["g"] == und["ug"])
                          & (frontier["node"] == und["a"]))
            .select("g", "source", F.col("b").alias("node"))
            .join(visited.select("g", "source", "node"),
                  ["g", "source", "node"], "left_anti")
        )
        if not probe.isEmpty():
            raise ValueError(
                f"BFS frontier still live past max_depth={max_depth}: the "
                "graph diameter exceeds the horizon; raise max_depth (and "
                "any oracle unrolled to the same depth) instead of "
                "accepting truncated betweenness")

    # ---- backward accumulation over BFS-tree edges, deepest first ----
    bc_parts: list[DataFrame] = []
    delta = None  # (source, node, delta) at the current level
    for dd in range(d, 0, -1):
        w_level = per_level[dd]
        if delta is None:
            w_frontier = w_level.withColumn("delta", F.lit(0.0))
        else:
            w_frontier = (
                w_level.join(delta, ["g", "source", "node"], "left")
                .na.fill({"delta": 0.0})
            )
        w_frontier = w_frontier.persist()
        # credit: every non-source w at this level adds delta_w to bc[w]
        bc_parts.append(
            w_frontier.filter(F.col("node") != F.col("source"))
            .select("g", "node", F.col("delta").alias("c"))
        )
        prev = per_level[dd - 1].select(
            "g", "source", F.col("node").alias("vnode"),
            F.col("sigma").alias("sigma_v"),
        )
        new_delta = (
            w_frontier.join(und, (w_frontier["g"] == und["ug"])
                            & (w_frontier["node"] == und["b"]))
            .select(
                "g", "source", F.col("a").alias("vnode"),
                ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("wt"),
            )
            .join(prev, ["g", "source", "vnode"])
            .groupBy("g", "source", F.col("vnode").alias("node"))
            .agg(F.sum(F.col("sigma_v") * F.col("wt")).alias("delta"))
        )
        if (d - dd + 1) % 4 == 0:
            new_delta = new_delta.localCheckpoint(eager=True)
        new_delta = new_delta.persist()
        new_delta.count()  # fill the cache before unpersisting inputs
        if delta is not None:
            delta.unpersist()
        w_frontier.unpersist()
        delta = new_delta

    # per-group estimator scale: factor = n_g/k_eff_g; ÷2 undirected
    # double count; ×1/((n_g-1)(n_g-2)) when normalized and n_g > 2
    factor = F.col("_n") / F.col("_keff")
    scale = F.when(
        F.lit(normalized) & (F.col("_n") > 2),
        factor / ((F.col("_n") - 1) * (F.col("_n") - 2)),
    ).otherwise(F.lit(0.5) * factor)
    if bc_parts:
        acc = bc_parts[0]
        for p in bc_parts[1:]:
            acc = acc.union(p)
        bc = (
            acc.groupBy("g", "node").agg(F.sum("c").alias("_c"))
            .join(F.broadcast(ncnt), "g").join(F.broadcast(keff), "g")
            .select("g", "node", (F.col("_c") * scale).alias("btw"))
        )
    else:
        bc = spark.createDataFrame([], "g string, node string, btw double")
    # cut lineage from the soon-unpersisted BFS frames
    out = all_nodes.join(bc, ["g", "node"], "left").na.fill({"btw": 0.0})
    out = out.select(F.col("g").alias(group_col), "node", "btw") if group_col \
        else out.select("node", "btw")
    out = out.localCheckpoint(eager=True)
    if delta is not None:
        delta.unpersist()
    for lvl in per_level:
        lvl.unpersist()
    if visited is not frontier:
        visited.unpersist()
    und.unpersist()
    all_nodes.unpersist()
    return out


def betweenness_centrality_small(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_nodes: int = 20000, normalized: bool = True,
) -> dict[str, float]:
    """Betweenness centrality for SMALL graphs, computed driver-side with
    Brandes' algorithm over the collected undirected edge list (reference
    analog: networkx betweenness at visualization.py:168 /
    policy_comparative_analyzer.py:139 — per-period subgraphs are small).

    Deliberately NOT distributed (SURVEY §2 A-9 note): exact distributed
    betweenness is all-pairs-shortest-paths-shaped; at corpus scale use
    degree/eigenvector instead.  Guarded by ``max_nodes``.
    """
    from collections import deque

    rows = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .collect()
    )
    adj: dict[str, set[str]] = {}
    for r in rows:
        adj.setdefault(r.a, set()).add(r.b)
        adj.setdefault(r.b, set()).add(r.a)
    nodes = sorted(adj)
    if len(nodes) > max_nodes:
        raise ValueError(
            f"betweenness_centrality_small is driver-side only; graph has "
            f"{len(nodes)} nodes > max_nodes={max_nodes}"
        )
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:  # Brandes 2001
        stack: list[str] = []
        pred: dict[str, list[str]] = {v: [] for v in nodes}
        sigma = dict.fromkeys(nodes, 0.0)
        dist = dict.fromkeys(nodes, -1)
        sigma[s] = 1.0
        dist[s] = 0
        queue = deque([s])
        while queue:
            v = queue.popleft()
            stack.append(v)
            for w in sorted(adj[v]):
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    pred[w].append(v)
        delta = dict.fromkeys(nodes, 0.0)
        while stack:
            w = stack.pop()
            for v in pred[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
        # undirected: every pair counted twice
    n = len(nodes)
    scale = 0.5
    if normalized and n > 2:
        scale = 1.0 / ((n - 1) * (n - 2))
    return {v: bc[v] * scale for v in nodes}
