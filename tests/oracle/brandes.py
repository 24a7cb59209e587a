"""Reference betweenness centrality (test-only, never on the Spark
execution path).

Brandes (2001) node by node in plain Python over an undirected edge
list: the networkx-independent floor the distributed
``graph.betweenness_centrality`` is checked against.  Self-loops and
parallel edges are dropped, like the engine's simple undirected graph.
"""

from __future__ import annotations

from collections import deque


def betweenness(edges, normalized: bool = True) -> dict[str, float]:
    """{node: betweenness} for the undirected simple graph of ``edges``
    (an iterable of (a, b) pairs), scaled like networkx."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:
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
    # undirected: every pair is counted once from each end
    n = len(nodes)
    scale = 0.5
    if normalized and n > 2:
        scale = 1.0 / ((n - 1) * (n - 2))
    return {v: bc[v] * scale for v in nodes}
