"""Parity vs networkx — the library the reference's analytics actually
call (visualization.py:168-205, analyze_kg_data.py:202-217,
policy_comparative_analyzer.py:108-156).  Where the round-1/2 suites
verified the distributed graph algorithms against independent
pure-python/numpy re-implementations, these tests close the loop against
the reference's own dependency: same graph in, same numbers out.

Gated by ``importorskip`` — the sandbox ships networkx 3.6, but the
suite must stay green without it (the numpy/Brandes tests in
test_graph_algos.py remain the ungated floor).
"""

from __future__ import annotations

import random

import pytest

nx = pytest.importorskip("networkx")

from kgspark.pipeline.analytics import graph_metrics, period_graph_metrics
from kgspark.pipeline.graph import (
    betweenness_centrality,
    clustering_coefficients,
    connected_components,
    degrees,
    eigenvector_centrality,
    louvain,
    triangle_counts,
)
from tests.oracle import brandes


def _web_graph(n_hubs: int = 4, leaves_per_hub: int = 5, extra: int = 25,
               seed: int = 42) -> list[tuple[str, str]]:
    """Deterministic scale-free-ish test graph: hub cliques + leaf fans +
    seeded random cross edges — the shape a KG's entity graph takes
    (few high-degree policy entities, many leaf mentions)."""
    rng = random.Random(seed)
    hubs = [f"hub{i}" for i in range(n_hubs)]
    edges = [(hubs[i], hubs[j]) for i in range(n_hubs) for j in range(i + 1, n_hubs)]
    nodes = list(hubs)
    for h in hubs:
        for k in range(leaves_per_hub):
            leaf = f"{h}_leaf{k}"
            nodes.append(leaf)
            edges.append((h, leaf))
    for _ in range(extra):
        a, b = rng.sample(nodes, 2)
        edges.append((min(a, b), max(a, b)))
    # dedup, drop self-loops
    return sorted({(a, b) for a, b in edges if a != b})


def _nx_graph(edges: list[tuple[str, str]]) -> "nx.Graph":
    g = nx.Graph()
    g.add_edges_from(edges)
    return g


@pytest.fixture(scope="module")
def web_edges():
    return _web_graph()


@pytest.fixture(scope="module")
def web_df(spark, web_edges):
    return spark.createDataFrame(web_edges, "src string, dst string")


@pytest.fixture(scope="module")
def web_g(web_edges):
    return _nx_graph(web_edges)


def test_degrees_match_nx(spark, web_df, web_g):
    got = {r.node: r.degree for r in degrees(web_df).collect()}
    assert got == dict(web_g.degree())


def test_triangles_match_nx(spark, web_df, web_g):
    got = {r.node: r.triangles for r in triangle_counts(web_df).collect()}
    assert got == nx.triangles(web_g)


def test_clustering_matches_nx(spark, web_df, web_g):
    got = {r.node: r.clustering for r in clustering_coefficients(web_df).collect()}
    want = nx.clustering(web_g)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    avg = sum(got.values()) / len(got)
    assert avg == pytest.approx(nx.average_clustering(web_g), abs=1e-12)


def test_connected_components_match_nx(spark):
    # three components: a path, a clique, an isolated edge
    edges = (
        [(f"p{i}", f"p{i+1}") for i in range(6)]
        + [(f"c{i}", f"c{j}") for i in range(4) for j in range(i + 1, 4)]
        + [("x", "y")]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    want = {frozenset(c) for c in nx.connected_components(_nx_graph(edges))}
    by_comp: dict[str, set[str]] = {}
    for r in connected_components(df).collect():
        by_comp.setdefault(r.component, set()).add(r.node)
    assert {frozenset(v) for v in by_comp.values()} == want


def test_eigenvector_matches_nx(spark, web_df, web_g):
    # networkx pushed to tight convergence so the comparison is the
    # eigenvector, not its stopping rule (reference uses max_iter=1000,
    # visualization.py:175); the engine's default 30 fixed iterations
    # land within ~5e-9 of it on this graph
    want = nx.eigenvector_centrality(web_g, max_iter=5000, tol=1e-12)
    got = {
        r.node: r.centrality
        for r in eigenvector_centrality(web_df).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-5)


def test_reference_brandes_matches_nx(web_edges, web_g):
    # the plain-Python reference the betweenness tests in
    # test_graph_algos.py compare against, on the web graph and on a path
    # deeper than any fixed BFS horizon
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    for edges, g in ((web_edges, web_g), (path, _nx_graph(path))):
        got = brandes.betweenness(edges)
        want = nx.betweenness_centrality(g)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_betweenness_sampled_all_sources_matches_nx(spark, web_df, web_g):
    # k_sources=None makes every node a source: exact Brandes, so it must
    # reproduce networkx up to float sum order
    got = {r.node: r.btw for r in betweenness_centrality(web_df).collect()}
    want = nx.betweenness_centrality(web_g)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_graph_metrics_density_matches_nx_digraph(spark, web_edges, web_g):
    # A-8 graph_metrics is the DIRECTED density over distinct (s, o)
    # edges (analyze_kg_data.py:195-224 builds its view from directed
    # triples); check against nx.density on the same DiGraph
    triples = spark.createDataFrame(
        [(a, "links to", b) for a, b in web_edges],
        "subject string, predicate string, object string",
    )
    dg = nx.DiGraph()
    dg.add_edges_from(web_edges)
    row = graph_metrics(triples).collect()[0]
    assert row.nodes == dg.number_of_nodes()
    assert row.edges == dg.number_of_edges()
    assert row.density == pytest.approx(nx.density(dg), abs=1e-6)


def test_period_graph_metrics_match_nx(spark, web_edges):
    # A-9 per-period metrics vs per-period networkx — exactly the
    # reference loop (policy_comparative_analyzer.py:108-156) with the
    # undirected simple graph per year
    per_period = {
        "2019": web_edges[: len(web_edges) // 2],
        "2020": web_edges[len(web_edges) // 3 :],
    }
    rows = [
        (p, a, "links to", b) for p, es in per_period.items() for a, b in es
    ]
    triples = spark.createDataFrame(
        rows, "period string, subject string, predicate string, object string")
    got = {r.period: r for r in period_graph_metrics(triples).collect()}
    for p, es in per_period.items():
        g = _nx_graph(es)
        r = got[p]
        assert r.nodes == g.number_of_nodes()
        assert r.edges == g.number_of_edges()
        assert r.density == pytest.approx(nx.density(g), abs=1e-6)
        assert r.avg_clustering == pytest.approx(nx.average_clustering(g), abs=1e-6)
        assert r.components == nx.number_connected_components(g)


def test_louvain_modularity_at_nx_level(spark):
    # the reference's community.best_partition is seed/order dependent;
    # the contract is QUALITY — our deterministic Louvain must reach the
    # modularity networkx's Louvain reaches on the same graph (clique
    # ring with bridges: the structure plain CC cannot split)
    rng = random.Random(7)
    edges = []
    for c in range(5):
        members = [f"c{c}n{i}" for i in range(6)]
        edges += [(a, b) for i, a in enumerate(members) for b in members[i + 1 :]]
        edges.append((f"c{c}n0", f"c{(c + 1) % 5}n0"))  # ring bridge
    for _ in range(5):  # light noise
        a, b = rng.sample([f"c{c}n{i}" for c in range(5) for i in range(6)], 2)
        edges.append((min(a, b), max(a, b)))
    edges = sorted({(a, b) for a, b in edges if a != b})
    g = _nx_graph(edges)

    nx_parts = nx.community.louvain_communities(g, seed=0)
    q_nx = nx.community.modularity(g, nx_parts)

    df = spark.createDataFrame(edges, "src string, dst string")
    ours: dict[str, set[str]] = {}
    for r in louvain(df).collect():
        ours.setdefault(r.community, set()).add(r.node)
    q_ours = nx.community.modularity(g, list(ours.values()))

    assert q_ours >= q_nx - 0.02, (q_ours, q_nx)
    # and it actually split the ring into the five planted cliques' scale
    assert 3 <= len(ours) <= 8
