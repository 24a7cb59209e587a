"""Incremental-CC microbench: time ``graph.incremental_connected_components``
(fold a new-edge batch into stored labels) against a full
``connected_components`` recompute over the accumulated edges.

Protocol: deterministic synthetic edge set (seeded; chains + random
attachments so components have real diameter), labels precomputed and
written to parquet (as the streaming path does), batch = ``batch_frac``
of the edges held out.  Timed: (a) full CC over base+batch edges,
(b) incremental fold of the batch into the stored labels.  Both outputs
are asserted identical before any time is reported.  The session takes
the default master and shuffle partitions (``SPARK_GRAFT_CPUS`` or the
CPU count).

Usage: python tools/incr_cc_bench.py [n_edges] [batch_frac] → one JSON line
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kgspark.pipeline.graph import (  # noqa: E402
    connected_components,
    incremental_connected_components,
)
from kgspark.session import get_session  # noqa: E402


BLOCK = 200  # nodes per component block


def gen_edges(n: int, seed: int = 17) -> list[tuple[str, str]]:
    """Many mid-diameter components: nodes grouped in blocks of
    ``BLOCK``; each block is a chain plus random intra-block edges
    (cross-block edges would merge everything into one giant component
    and make every batch touch the whole graph)."""
    rng = random.Random(seed)
    edges = []
    n_nodes = max(4, n // 2)
    for i in range(n_nodes - 1):
        if i % BLOCK != BLOCK - 1:
            edges.append((f"n{i:07d}", f"n{i + 1:07d}"))
    while len(edges) < n:
        blk = rng.randrange(max(1, n_nodes // BLOCK)) * BLOCK
        a, b = blk + rng.randrange(BLOCK), blk + rng.randrange(BLOCK)
        if a != b and a < n_nodes and b < n_nodes:
            edges.append((f"n{a:07d}", f"n{b:07d}"))
    return edges[:n]


def gen_batch(n_nodes: int, n_batch: int, localized: bool,
              seed: int = 23) -> list[tuple[str, str]]:
    """localized=True — the crawl case: the batch attaches new nodes to
    (and adds edges within) the last ~1% of the node id space, so it
    touches a sliver of the components.  localized=False — uniform
    random endpoints touch nearly every component and merge many of
    them."""
    rng = random.Random(seed)
    batch = []
    lo = int(n_nodes * 0.99) if localized else 0
    for i in range(n_batch):
        if localized and i % 3 == 0:
            batch.append((f"new{i:06d}", f"n{rng.randrange(lo, n_nodes):07d}"))
        else:
            a, b = rng.randrange(lo, n_nodes), rng.randrange(lo, n_nodes)
            if a == b:
                b = (b + 1) % n_nodes
            batch.append((f"n{a:07d}", f"n{b:07d}"))
    return batch


def time_pair(spark, base_edges, batch, labels_path):
    base_df = spark.createDataFrame(base_edges, "src string, dst string")
    batch_df = spark.createDataFrame(batch, "src string, dst string")
    connected_components(base_df).write.mode("overwrite").parquet(labels_path)
    prev = spark.read.parquet(labels_path)

    t0 = time.time()
    full_df = connected_components(base_df.unionByName(batch_df))
    n_full = full_df.count()
    t_full = time.time() - t0

    t0 = time.time()
    incr_df = incremental_connected_components(prev, batch_df)
    n_incr = incr_df.count()
    t_incr = time.time() - t0

    assert n_full == n_incr and \
        full_df.exceptAll(incr_df).limit(1).count() == 0, \
        "incremental labels diverged from full recompute"
    return t_full, t_incr, n_full


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    batch_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    spark = get_session(app_name="incr-cc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    edges = gen_edges(n_edges)
    n_nodes = max(4, n_edges // 2)
    n_batch = max(1, int(n_edges * batch_frac))

    # warm-up: JVM/codegen on the iterative shape (untimed); the tail of
    # the edge list is random intra-block edges, so few rounds
    connected_components(
        spark.createDataFrame(edges[-2000:], "src string, dst string")).count()

    out = {"metric": "incremental_cc_speedup", "n_edges": n_edges,
           "batch_edges": n_batch}
    with tempfile.TemporaryDirectory() as td:
        for case, localized in (("localized_batch", True),
                                ("uniform_batch", False)):
            batch = gen_batch(n_nodes, n_batch, localized)
            t_full, t_incr, n = time_pair(
                spark, edges, batch, os.path.join(td, f"labels_{case}"))
            out[case] = {
                "full_recompute_sec": round(t_full, 2),
                "incremental_sec": round(t_incr, 2),
                "speedup": round(t_full / t_incr, 2),
                "nodes": n,
            }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
