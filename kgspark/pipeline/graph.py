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
) -> DataFrame:
    """Eigenvector centrality by power iteration over the undirected
    simple graph — iterative join-agg (the PageRank skeleton), reference
    analog: networkx eigenvector_centrality at visualization.py:170-177
    (max_iter=1000 driver-side; ours distributes).

    Runs exactly ``max_iter`` normalized iterations, with no convergence
    test: deterministic and SQL-replayable (the oracle mode), and on
    networkx's 24-node web-graph test within 5e-9 of its tight-tolerance
    result after the default 30.  Lineage is cut every 5 iterations.

    Returns (node, centrality) with the L2-normalized iterate, like
    networkx; no rows for an empty edge set."""
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
    x = nodes.withColumn("score", F.lit(1.0 / (n ** 0.5)))
    y = None
    for it in range(max_iter):
        # y = A x  (sum neighbor scores); every node has >=1 und neighbor,
        # so y > 0 and its norm never vanishes.  y is cached before the
        # norm job fills it, so the next iterate reads it rather than
        # recomputing the iterations back to the last cut
        prev = y
        y = (
            und.join(x, und["b"] == x["node"])
            .groupBy(und["a"].alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        y = y.localCheckpoint(eager=True) if (it + 1) % 5 == 0 else y.persist()
        norm = y.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw")))).collect()[0][0]
        if prev is not None:
            prev.unpersist()
        x = y.select("node", (F.col("raw") / F.lit(norm)).alias("score"))
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


def betweenness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_sources: int | None = None,
    normalized: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """Betweenness centrality by Brandes (2001) as a distributed
    level-synchronous BFS over the undirected simple graph (reference
    analog: networkx betweenness at visualization.py:168 and the per-year
    loop at policy_comparative_analyzer.py:139-151).

    ``k_sources=None`` makes every node a source: exact betweenness.  An
    integer picks the ``k_sources`` highest-degree nodes (ties: smallest
    id) as pivots (Brandes & Pich 2007), a deterministic approximation
    scaled by n / k_eff.  All sources advance in ONE wave per BFS level,
    so the job count is O(diameter), not O(sources · diameter).

      forward:  level_{d+1} = neighbours of level_d minus levels d and
                d-1 (und is symmetric, so a level-d node's neighbours
                lie at levels d-1, d and d+1), sigma summed over
                predecessors (path counts); runs until a level is empty;
      backward: for d = D-1..1, delta_v = Σ_w σ_v/σ_w · (1+delta_w)
                over BFS-tree edges (v at d, w at d+1);
      credit:   bc_v = Σ over sources and levels 1..D-1 of delta_v.

    Each level is one eager ``localCheckpoint``, so no level's plan
    nests the plans of the levels before it.  The sum is halved for the
    undirected double count and, when ``normalized`` and n > 2, scaled
    by 1/((n-1)(n-2)), like networkx.

    ``group_col`` names a column on ``edges`` whose groups are
    independent graphs; every join and groupBy key carries the group, so
    N per-period graphs advance in one wave, and sources, k_eff and n
    are per group.

    Returns ([group,] node, btw) covering every node (unreached → 0).
    """
    spark = edges.sparkSession
    # one code path: a constant group key when ungrouped (dropped on
    # return).  und's group column is named "ug", not "g": every BFS
    # frame derives from und, and a same-named equi-join condition would
    # be an ambiguous self-join reference
    gsrc = F.col(group_col) if group_col else F.lit("")
    # cut the caller's lineage once: every level joins und, and would
    # otherwise re-analyze the caller's whole plan
    und = (
        edges.select(gsrc.alias("ug"), F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(gsrc.alias("ug"), F.col(dst).alias("a"),
                            F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if und.isEmpty():
        schema = (f"{group_col} string, " if group_col else "") + \
            "node string, btw double"
        return spark.createDataFrame([], schema)
    deg = und.groupBy(F.col("ug").alias("g"), F.col("a").alias("node")).agg(
        F.count("*").alias("degree"))
    sources = deg.select("g", F.col("node").alias("source"))
    if k_sources is not None:
        rank_w = Window.partitionBy("g").orderBy(F.col("degree").desc(), F.col("node"))
        sources = (deg.withColumn("_rk", F.row_number().over(rank_w))
                   .filter(F.col("_rk") <= k_sources)
                   .select("g", F.col("node").alias("source")))
    keys = ["g", "source", "node"]

    # ---- forward BFS: levels[d] = (g, source, node, sigma) at distance d
    levels = [sources.select("g", "source", F.col("source").alias("node"),
                             F.lit(1.0).alias("sigma"))
              .localCheckpoint(eager=True)]
    while True:
        cur = levels[-1]
        nxt = (
            cur.join(und, (cur["g"] == und["ug"]) & (cur["node"] == und["a"]))
            .select("g", "source", F.col("b").alias("node"), "sigma")
            .join(cur.select(*keys), keys, "left_anti")
        )
        if len(levels) > 1:
            nxt = nxt.join(levels[-2].select(*keys), keys, "left_anti")
        nxt = (nxt.groupBy(*keys).agg(F.sum("sigma").alias("sigma"))
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        levels.append(nxt)

    # ---- backward: delta frames for levels D-1..1, deepest first
    deltas: list[DataFrame] = []
    delta = levels[-1].withColumn("delta", F.lit(0.0))
    for lvl in reversed(levels[1:-1]):
        up = delta.join(und, (delta["g"] == und["ug"]) & (delta["node"] == und["b"])) \
            .select("g", "source", F.col("a").alias("node"),
                    ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("wt"))
        delta = (
            lvl.join(up, keys, "left")
            .groupBy(*keys, "sigma")
            .agg(F.coalesce(F.sum(F.col("sigma") * F.col("wt")), F.lit(0.0))
                 .alias("delta"))
            .localCheckpoint(eager=True)
        )
        deltas.append(delta)

    # per-group scale: n_g / k_eff_g (1 when exact); ÷2 for the undirected
    # double count, or ×1/((n_g-1)(n_g-2)) when normalized and n_g > 2
    sizes = deg.groupBy("g").agg(F.count("*").alias("_n")).join(
        sources.groupBy("g").agg(F.count("*").alias("_keff")), "g")
    factor = F.col("_n") / F.col("_keff")
    scale = F.when(
        F.lit(normalized) & (F.col("_n") > 2),
        factor / ((F.col("_n") - 1) * (F.col("_n") - 2)),
    ).otherwise(F.lit(0.5) * factor)
    credit = deg.select("g", "node", F.lit(0.0).alias("delta"))
    for part in deltas:
        credit = credit.union(part.select("g", "node", "delta"))
    out = (
        credit.groupBy("g", "node").agg(F.sum("delta").alias("_c"))
        .join(F.broadcast(sizes), "g")
        .select("g", "node", (F.col("_c") * scale).alias("btw"))
    )
    return out.select(F.col("g").alias(group_col), "node", "btw") if group_col \
        else out.select("node", "btw")
