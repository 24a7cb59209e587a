"""Graph-algorithm correctness: eigenvector centrality vs numpy dense
power iteration; triangle/clustering vs brute force; betweenness vs the
plain-Python Brandes in tests/oracle/brandes.py."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from kgspark.pipeline.graph import (
    betweenness_centrality,
    clustering_coefficients,
    connected_components,
    eigenvector_centrality,
    triangle_counts,
)
from tests.oracle import brandes

EDGES = [
    ("a", "b"), ("b", "c"), ("a", "c"),      # triangle abc
    ("c", "d"), ("d", "e"), ("e", "c"),      # triangle cde
    ("e", "f"),                              # pendant
    ("g", "h"),                              # separate component
]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def test_eigenvector_matches_numpy(spark, edges_df):
    got = {r.node: r.centrality
           for r in eigenvector_centrality(edges_df, max_iter=100).collect()}
    nodes = sorted({n for e in EDGES for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for u, v in EDGES:
        A[idx[u], idx[v]] = A[idx[v], idx[u]] = 1.0
    x = np.ones(len(nodes)) / np.sqrt(len(nodes))
    for _ in range(100):
        x = A @ x
        x /= np.linalg.norm(x)
    for n in nodes:
        # g/h live in a smaller-eigenvalue component; power iteration from a
        # uniform start drives their mass to ~0 in both implementations
        assert got.get(n, 0.0) == pytest.approx(x[idx[n]], abs=1e-4)


def test_triangles_brute_force(spark, edges_df):
    got = {r.node: r.triangles for r in triangle_counts(edges_df).collect()}
    und = set()
    for u, v in EDGES:
        und.add((u, v)); und.add((v, u))
    nodes = sorted({n for e in EDGES for n in e})
    want = dict.fromkeys(nodes, 0)
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            want[a] += 1; want[b] += 1; want[c] += 1
    assert got == want


def test_clustering_values(spark, edges_df):
    got = {r.node: round(r.clustering, 6)
           for r in clustering_coefficients(edges_df).collect()}
    # c has degree 4 (a,b,d,e) and 2 triangles → 2*2/(4*3) = 1/3
    assert got["c"] == pytest.approx(1 / 3, abs=1e-6)
    assert got["a"] == 1.0 and got["b"] == 1.0
    assert got["f"] == 0.0 and got["g"] == 0.0


def test_cc_components(spark, edges_df):
    comp = {r.node: r.component for r in connected_components(edges_df).collect()}
    assert comp["a"] == comp["f"] == "a"
    assert comp["g"] == comp["h"] == "g"


def test_betweenness_path_graph(spark):
    # path a-b-c-d: betweenness (normalized, undirected, n=4):
    # b and c each sit on 2 of the (n-1)(n-2)=6 ordered pairs' paths ->
    # raw 2 pairs counted once per direction = 2; scale 1/6 -> 1/3
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    bc = {r.node: r.btw for r in betweenness_centrality(df).collect()}
    assert bc["a"] == 0.0 and bc["d"] == 0.0
    assert bc["b"] == pytest.approx(2 / 3)
    assert bc["c"] == pytest.approx(2 / 3)


def test_betweenness_star(spark):
    df = spark.createDataFrame(
        [("hub", "x1"), ("hub", "x2"), ("hub", "x3")], ["src", "dst"])
    bc = {r.node: r.btw for r in betweenness_centrality(df).collect()}
    assert bc["hub"] == pytest.approx(1.0)
    assert bc["x1"] == 0.0


def test_sampled_betweenness_all_sources_equals_exact(spark, edges_df):
    """With k_sources >= n the pivots are every node, so the result must
    equal exact Brandes to float precision (VERDICT r02 item 6)."""
    exact = brandes.betweenness(EDGES)
    got = {r.node: r.btw for r in betweenness_centrality(
        edges_df, k_sources=10**6).collect()}
    assert set(got) == set(exact)
    for node, want in exact.items():
        assert got[node] == pytest.approx(want, abs=1e-9), node


def test_betweenness_exact_on_long_path(spark):
    """The BFS runs to the end of the graph: on a 64-node path (diameter
    63, beyond any fixed depth horizon) exact betweenness matches the
    reference, whose middle nodes carry the most shortest paths."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.btw for r in betweenness_centrality(df).collect()}
    want = brandes.betweenness(edges)
    assert set(got) == set(want) and len(want) == 64
    for node, w in want.items():
        assert got[node] == pytest.approx(w, abs=1e-9), node


def test_sampled_betweenness_all_sources_exact_barbell(spark):
    """Barbell (two triangles joined by a path): bridge nodes carry all
    the betweenness; k=n identity again, on a graph with heavy
    path-dependence."""
    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
             ("a1", "m1"), ("m1", "m2"), ("m2", "b1")]
    df = spark.createDataFrame(edges, "src string, dst string")
    exact = brandes.betweenness(edges)
    got = {r.node: r.btw for r in betweenness_centrality(
        df, k_sources=100).collect()}
    for node, want in exact.items():
        assert got[node] == pytest.approx(want, abs=1e-9), node


def test_sampled_betweenness_subsample_ranks(spark):
    """With k < n the estimate is approximate but the deterministic
    top-degree pivots must still rank the true top bridge first and give
    leaves ~0 (the node_importance contract at corpus scale)."""
    # hub-and-spoke chain: h1 bridges two stars -> highest betweenness
    edges = ([("h1", f"l{i}") for i in range(6)]
             + [("h2", f"m{i}") for i in range(6)]
             + [("h1", "h2")])
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.btw for r in betweenness_centrality(
        df, k_sources=4).collect()}
    top = max(got, key=got.get)
    assert top in ("h1", "h2")
    assert got["l3"] == pytest.approx(0.0, abs=1e-9)
    assert len(got) == 14  # every node present, unreached filled with 0


def test_node_importance_large_graph_uses_sampled_path(spark):
    """Forcing max_betweenness_nodes below the node count must route
    node_importance onto the top-degree-pivot arm of the distributed
    Brandes and still return the full scored node set — no raise
    (VERDICT r02 item 6)."""
    from kgspark.pipeline.analytics import node_importance

    # a 7-node path: enough depth to exercise the multi-level BFS forward
    # and backward passes while keeping the per-level Spark-job count (the
    # dominant cost of iterative loops on tiny graphs) suite-friendly
    triples = spark.createDataFrame(
        [("s%d" % i, "links", "s%d" % (i + 1)) for i in range(6)],
        "subject string, predicate string, object string")
    out = node_importance(triples, max_betweenness_nodes=3,
                          btw_k_sources=100).collect()
    assert len(out) == 7
    scores = {r.node: r.importance for r in out}
    # middle of the path outranks the endpoints
    assert scores["s3"] > scores["s0"]
    sizes = {r.node: r.size for r in out}
    assert all(10.0 <= s <= 30.0 + 1e-9 for s in sizes.values())


def test_cc_converges_on_long_path(spark):
    """Min-label CC runs until no label changes: a 64-node path needs
    63 propagation rounds, and every node must end in one component."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.node, r.component)
           for r in connected_components(df).collect()}
    assert got == {(f"p{i:02d}", "p00") for i in range(64)}


def test_cc_evaluates_input_once(spark, edges_df):
    """CC reads its input edges in two directions; the input lineage
    (in the pipeline, the LSH self-join and its verifier) must still run
    once per row, not once per direction or round.  An accumulator in a
    UDF of the edge lineage counts the evaluations."""
    from pyspark.sql import functions as F

    want = {(r.node, r.component)
            for r in connected_components(edges_df).collect()}
    seen = spark.sparkContext.accumulator(0)

    def count(v):
        seen.add(1)
        return v

    tagged = edges_df.select(
        F.udf(count, "string")("src").alias("src"), "dst")
    got = {(r.node, r.component)
           for r in connected_components(tagged).collect()}
    assert got == want
    assert seen.value == len(EDGES), seen.value


def test_node_importance_matches_reference_formula(spark):
    """A-17: importance = 0.5·deg/max + 0.3·btw/max + 0.2·eig/max,
    size = 10 + 20·importance (visualization.py:207-227) — checked
    against a pure-Python recomputation on a small graph."""
    from kgspark.pipeline.analytics import node_importance

    triples = spark.createDataFrame(
        [("u", "a", "p", "b"), ("u", "b", "p", "c"), ("u", "c", "p", "d"),
         ("u", "a", "p", "c"), ("u", "d", "p", "e")],
        "url string, subject string, predicate string, object string")
    got = {r.node: (r.importance, r.size) for r in node_importance(triples).collect()}

    import math
    adj = {}
    for s, o in [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "e")]:
        adj.setdefault(s, set()).add(o)
        adj.setdefault(o, set()).add(s)
    deg = {n: len(v) for n, v in adj.items()}
    btw = brandes.betweenness(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "e")])
    # eigenvector: 30 fixed normalized power iterations like the engine
    nodes = sorted(adj)
    x = {n: 1 / math.sqrt(len(nodes)) for n in nodes}
    for _ in range(30):
        y = {n: sum(x[m] for m in adj[n]) for n in nodes}
        nrm = math.sqrt(sum(v * v for v in y.values()))
        x = {n: v / nrm for n, v in y.items()}
    md, mb, me = max(deg.values()), max(btw.values()), max(x.values())
    for n in nodes:
        imp = 0.5 * deg[n] / md + 0.3 * btw[n] / max(mb, 1e-12) \
            + 0.2 * x[n] / max(me, 1e-12)
        assert abs(got[n][0] - round(imp, 6)) <= 1e-6
        assert abs(got[n][1] - round(10 + 20 * imp, 4)) <= 1e-3


def test_eigenvector_and_node_importance_on_empty_input(spark):
    """An empty edge set has no nodes: both return an empty frame with
    their usual columns instead of dividing by the node count."""
    from kgspark.pipeline.analytics import node_importance

    edges = spark.createDataFrame([], "src string, dst string")
    eig = eigenvector_centrality(edges)
    assert eig.columns == ["node", "centrality"]
    assert eig.collect() == []
    triples = spark.createDataFrame(
        [], "url string, subject string, predicate string, object string")
    imp = node_importance(triples)
    assert imp.columns == ["node", "degree", "importance", "size"]
    assert imp.collect() == []


def _modularity(edges, part):
    """Pure-python Newman modularity of an unweighted simple undirected
    graph (the quantity python-louvain maximizes in the reference's
    visualization.py:190-191)."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    deg: dict = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    m2 = sum(deg.values())
    q = sum(1.0 for a, b in und if part[a] == part[b])
    q -= sum(
        deg[a] * deg[b] / m2
        for a in deg for b in deg if part[a] == part[b]
    )
    return q / m2


def test_louvain_splits_bridged_cliques(spark):
    """A-16 exact: deterministic distributed Louvain recovers the two
    5-cliques as two communities (one connected component), labels are
    min-member-stable, and reruns are bit-identical."""
    from kgspark.pipeline.graph import louvain

    a = [f"a{i}" for i in range(1, 6)]
    b = [f"b{i}" for i in range(1, 6)]
    edges = [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
    edges += [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
    edges.append(("a1", "b1"))
    df = spark.createDataFrame(edges, "src string, dst string")

    part = {r.node: r.community for r in louvain(df).collect()}
    assert {part[x] for x in a} == {"a1"}
    assert {part[x] for x in b} == {"b1"}

    again = {r.node: r.community for r in louvain(df).collect()}
    assert part == again


def test_louvain_modularity_on_clique_ring(spark):
    """Ring of 4 triangles (each pair of adjacent triangles bridged by
    one edge): Louvain must recover the 4 triangles as communities —
    the globally modularity-optimal partition — and beat the trivial
    partitions by the pure-python modularity measure."""
    from kgspark.pipeline.graph import louvain

    edges = []
    for t in range(4):
        n = [f"t{t}n{i}" for i in range(3)]
        edges += [(n[0], n[1]), (n[1], n[2]), (n[0], n[2])]
    for t in range(4):  # bridge corner 0 of each triangle to the next
        edges.append((f"t{t}n0", f"t{(t + 1) % 4}n0"))
    df = spark.createDataFrame(edges, "src string, dst string")

    part = {r.node: r.community for r in louvain(df).collect()}
    for t in range(4):
        labs = {part[f"t{t}n{i}"] for i in range(3)}
        assert len(labs) == 1, (t, labs)
    assert len(set(part.values())) == 4

    q = _modularity(edges, part)
    one = {n: 0 for n in part}
    singles = {n: n for n in part}
    assert q > _modularity(edges, one)
    assert q > _modularity(edges, singles)
    assert q > 0.4  # known optimum ~0.5 for this ring


def test_incremental_cc_equals_full_recompute(spark):
    """Folding a new edge batch into prior labels must equal a full CC
    over the union edge set — covering component merges, brand-new
    nodes, touched singletons, and untouched components."""
    import random

    from kgspark.pipeline.graph import (
        connected_components,
        incremental_connected_components,
    )

    rng = random.Random(7)
    old_edges = []
    # chain component, clique component, several untouched islands
    old_edges += [(f"c{i:02d}", f"c{i+1:02d}") for i in range(12)]
    ids = [f"k{i}" for i in range(5)]
    old_edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    for isl in range(6):
        old_edges += [(f"i{isl}a", f"i{isl}b"), (f"i{isl}b", f"i{isl}c")]
    nodes = [f"r{i:03d}" for i in range(80)]
    old_edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    old_edges = [e for e in old_edges if e[0] != e[1]]
    # old labels include a singleton only reachable via the new batch
    old_df = spark.createDataFrame(
        old_edges + [("lone", "lone2")], "src string, dst string")
    prev = connected_components(old_df)

    new_edges = [
        ("c05", "k2"),          # merge chain + clique
        ("lone2", "i0a"),       # singleton-ish pair joins an island
        ("new1", "new2"),       # brand-new component
        ("new2", "c00"),        # ... that also merges into the chain
        ("r001", "r002"),       # inside the random graph
    ]
    new_df = spark.createDataFrame(new_edges, "src string, dst string")

    got = {(r.node, r.component)
           for r in incremental_connected_components(prev, new_df).collect()}
    full = spark.createDataFrame(
        old_edges + [("lone", "lone2")] + new_edges, "src string, dst string")
    want = {(r.node, r.component)
            for r in connected_components(full).collect()}
    assert got == want


def test_incremental_cc_untouched_pass_through(spark):
    """Components with no new-edge endpoint keep their exact labels:
    their star edges re-enter CC unchanged, so their minima stay."""
    from kgspark.pipeline.graph import (
        connected_components,
        incremental_connected_components,
    )

    old_df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    prev = connected_components(old_df)
    new_df = spark.createDataFrame([("x", "z")], "src string, dst string")
    got = {(r.node, r.component)
           for r in incremental_connected_components(prev, new_df).collect()}
    assert {("a", "a"), ("b", "a"), ("c", "a")} <= got
    assert {("x", "x"), ("y", "x"), ("z", "x")} <= got
    assert len(got) == 6


def test_incremental_cc_chains_many_components(spark):
    """A batch that chains 40 prior two-node components into one
    80-node path whose minimum sits mid-path: the fold's CC needs ~40
    rounds, so the labels are right only if the loop runs to
    convergence."""
    from kgspark.pipeline.graph import incremental_connected_components

    # path position i holds component q{(i + 20) % 40}: q00 is in the middle
    comp = [f"q{(i + 20) % 40:02d}" for i in range(40)]
    old_edges = [(f"{c}a", f"{c}b") for c in comp]
    new_edges = [(f"{comp[i]}b", f"{comp[i + 1]}a") for i in range(39)]
    old_df = spark.createDataFrame(old_edges, "src string, dst string")
    new_df = spark.createDataFrame(new_edges, "src string, dst string")
    prev = connected_components(old_df)
    got = {(r.node, r.component)
           for r in incremental_connected_components(prev, new_df).collect()}
    full = spark.createDataFrame(old_edges + new_edges, "src string, dst string")
    want = {(r.node, r.component)
            for r in connected_components(full).collect()}
    assert want == {(n, "q00a") for e in old_edges for n in e}
    assert got == want


def test_grouped_betweenness_equals_per_group_runs(spark):
    """group_col: N independent graphs advancing in one BFS wave must
    produce exactly the per-graph results (and k_sources=None = exact
    all-sources mode needs no node count up front)."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(13)
    graphs, both = {}, None
    for p, (n, m) in {"p1": (14, 40), "p2": (9, 22), "p3": (17, 55)}.items():
        graphs[p] = sorted({(f"{p}_{a}", f"{p}_{b}")
                            for a, b in ((rnd.randrange(n), rnd.randrange(n))
                                         for _ in range(m)) if a != b})
        g = spark.createDataFrame(graphs[p], "src string, dst string") \
            .withColumn("period", F.lit(p))
        both = g if both is None else both.unionByName(g)

    got = {(r["period"], r["node"]): r["btw"]
           for r in betweenness_centrality(
               both, normalized=True, group_col="period").collect()}
    want = {(p, node): b for p, es in graphs.items()
            for node, b in brandes.betweenness(es).items()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
