"""Physical-plan assertions: the properties that make the engine hold at
100 TB must be visible in `.explain` output, not just hoped for.

* parquet scans push filters and prune columns
* phases 2-3 cross into Python only as Arrow-batched maps over
  documents, one exchange each
* the Gopher gate is one Arrow-batched UDF pass with no exchange
* the exact-Jaccard pair join is an equi-join on the shingle (no
  nested-loop cross join)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    # column pruning: the scan schema carries only the two needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_link_map_broadcast_cutoff(spark):
    from kgspark.config import KgConfig
    from kgspark.pipeline import linking, relational

    trip = relational.event_triples(spark, SF)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.catalog.clearCache()
        link_map = linking.link_entities(trip, KgConfig())
        big = linking.apply_linking(trip, link_map, max_broadcast_rows=0)
        plan = plan_of(big)
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    small = linking.apply_linking(trip, link_map, max_broadcast_rows=10**9)
    a = sorted(map(tuple, small.collect()))
    b = sorted(map(tuple, big.select(*small.columns).collect()))
    assert a == b


def test_phases_plan_python_only_as_map_in_arrow(spark):
    """Phases 2-3 each run their Python as one Arrow-batched map over
    batches of documents (MapInArrow), never as row-at-a-time
    BatchEvalPython, behind at most one exchange (the url aggregation).
    Each phase is planned over a checkpointed input, as the runner's
    barriers leave it."""
    from kgspark.pipeline import inference, relational, standardize

    trip = relational.geo_triples(spark, SF).localCheckpoint()
    std = standardize.standardize(trip)
    plans = [plan_of(std)]  # before the checkpoint runs it: one plan, not two
    plans.append(plan_of(inference.infer(std.localCheckpoint())))
    for plan in plans:
        tree = plan.split("\n\n")[0]
        assert "MapInArrow" in tree
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert sum(" Exchange " in line for line in tree.splitlines()) <= 1


def test_extraction_kernels_are_arrow(spark):
    """Phase-1 kernels must run as Arrow-batched UDFs, never row-at-a-time
    Python (north rule: no per-row Python anywhere)."""
    from kgspark.pipeline import chunking, extraction, ingest

    pages = ingest.with_extracted_text(
        spark.createDataFrame(
            [("u", None, b"<html><body><p>x supports y.</p></body></html>", None, "en")],
            schema=ingest.PAGES_SCHEMA,
        )
    )
    raw = extraction.extract_raw_triples(chunking.chunk_pages(pages, 100, 20))
    fused = extraction.extract_pipeline_fused(pages, 100, 20)
    for name, df in (("modular", raw), ("fused", fused)):
        plan = plan_of(df)
        assert "ArrowEvalPython" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_gopher_gate_is_one_arrow_pass(spark):
    """The Gopher repetition gate runs its per-document counters as ONE
    Arrow-batched UDF with no exchange (it used to be five
    explode/groupBy families and five joins), and the pipeline that
    applies it stays free of row-at-a-time Python."""
    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.ops import textstats
    from kgspark.pipeline.ingest import PAGES_SCHEMA
    from kgspark.pipeline.runner import build_triples

    pages = spark.createDataFrame(datagen.generate_rows(4, seed=1), PAGES_SCHEMA)
    plan = plan_of(textstats.repetition_signals(pages, "url", "text"))
    tree = plan.split("\n\n")[0]
    assert sum("ArrowEvalPython" in line for line in tree.splitlines()) == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    gated = build_triples(pages, KgConfig(quality_filter_enabled=True),
                          materialize=False)
    assert "BatchEvalPython" not in plan_of(gated)


def test_jaccard_join_is_equi_not_cross(spark):
    from kgspark.ops import dedupe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedupe.jaccard_pairs_exact(docs, "doc_id", "text", 3, 0.5)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_dup_pairs_ann_no_nested_loop(spark):
    """The exposed embedding near-dup path must be a banded equi-join —
    no all-pairs BroadcastNestedLoopJoin/CartesianProduct (VERDICT r01
    item 3)."""
    from kgspark.ops import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = similarity.embedding_dup_pairs_ann(
        emb, "vec_id", "embedding", threshold=0.99, dim=64)
    plan = plan_of(pairs)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_community_topk_has_no_global_window(spark):
    """The community top-k subtree must plan as TakeOrderedAndProject
    (distributed per-partition top-k), never a partition-less Window
    ranking ALL component sizes in one task (VERDICT r4 item 2).  The
    bounded ≤ k + k·max_pairs seq-numbering window on the final
    community_inference output is exempt — this targets the sizes
    ranking, which is |components|-sized at crawl scale."""
    from kgspark.pipeline import community, relational

    trip = relational.event_triples(spark, SF)
    edges = trip.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    ranked = community._components_ranked(edges, top_k=5)
    plan = plan_of(ranked)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_topk_broadcasts_query_side(spark):
    from kgspark.ops import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    plan = plan_of(similarity.topk_neighbors(emb, q, "vec_id", "embedding", k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """Two tables written bucketed by the same key join on that key with
    NO Exchange on either side — the write-once-shuffle-never-again
    layout for the materialized entities/edges relations (tables.py).
    Broadcast is disabled so the assertion can't pass trivially."""
    from kgspark.pipeline import tables

    base = tmp_path_factory.mktemp("bucketed")
    ents = spark.range(0, 2000).selectExpr(
        "concat('e', id) AS entity", "id % 7 AS degree")
    edges = spark.range(0, 6000).selectExpr(
        "concat('e', id % 2000) AS entity", "concat('e', (id * 37) % 2000) AS dst")
    tables.write_bucketed(
        ents.repartition(8, "entity"), "t_ents_b", "entity",
        num_buckets=8, path=str(base / "ents"))
    tables.write_bucketed(
        edges.repartition(8, "entity"), "t_edges_b", "entity",
        num_buckets=8, path=str(base / "edges"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = tables.read_table(spark, "t_edges_b").join(
            tables.read_table(spark, "t_ents_b"), "entity")
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 6000
        # the same join over a raw path read DOES shuffle — the catalog
        # read is what carries the bucket metadata to the planner
        raw = spark.read.parquet(str(base / "edges")).join(
            spark.read.parquet(str(base / "ents")), "entity")
        assert "Exchange" in plan_of(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_ents_b")
        spark.sql("DROP TABLE IF EXISTS t_edges_b")


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """compact_parquet: many tiny appended files collapse to few, rows
    and partition layout are preserved exactly."""
    import os

    from kgspark.pipeline.tables import compact_parquet

    flat = str(tmp_path / "flat")
    for i in range(12):  # 12 appends → ≥12 files
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(flat)
    before = {r.id for r in spark.read.parquet(flat).collect()}
    stats = compact_parquet(spark, flat, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 12
    assert stats["files_after"] < stats["files_before"]
    assert {r.id for r in spark.read.parquet(flat).collect()} == before

    part = str(tmp_path / "part")
    for i in range(6):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 3 AS bucket").write.mode("append").partitionBy(
            "bucket").parquet(part)
    want = {(r.id, r.bucket) for r in spark.read.parquet(part).collect()}
    compact_parquet(spark, part, target_file_bytes=1 << 30,
                    partition_col="bucket")
    got_df = spark.read.parquet(part)
    assert {(r.id, r.bucket) for r in got_df.collect()} == want
    # partition dirs survive the rewrite
    assert sorted(d for d in os.listdir(part) if d.startswith("bucket=")) == [
        "bucket=0", "bucket=1", "bucket=2"]


def test_compact_parquet_refuses_to_flatten_partitioned_dir(spark, tmp_path):
    """Compacting a partitioned directory WITHOUT partition_col would
    silently flatten the `col=` layout (breaking the streaming sink's
    replace-on-retry partition overwrite) — it must refuse instead, and
    likewise refuse a partition_col that doesn't match the layout."""
    import pytest

    from kgspark.pipeline.tables import compact_parquet

    part = str(tmp_path / "part_guard")
    spark.range(0, 300).selectExpr("id", "id % 3 AS batch_id").write.mode(
        "append").partitionBy("batch_id").parquet(part)
    with pytest.raises(ValueError, match="partitioned by \\['batch_id'\\]"):
        compact_parquet(spark, part, target_file_bytes=1 << 30)
    with pytest.raises(ValueError, match="not by partition_col"):
        compact_parquet(spark, part, target_file_bytes=1 << 30,
                        partition_col="bucket")
    # the correct partition_col still works
    want = {(r.id, r.batch_id) for r in spark.read.parquet(part).collect()}
    compact_parquet(spark, part, target_file_bytes=1 << 30,
                    partition_col="batch_id")
    assert {(r.id, r.batch_id)
            for r in spark.read.parquet(part).collect()} == want


def test_runner_passes_decided_broadcast_flag_no_sizing_count(spark):
    """build_triples must hand standardize() a DECIDED broadcast flag
    (True/False) derived from the barriered triples count — never None.
    standardize() no longer reads the flag (phase 2 is per document, so
    there is no map to broadcast); this pins the runner's side of the
    call, whose sizing count scans the extract barrier and adds no job."""
    from kgspark import datagen
    from kgspark.config import KgConfig
    from kgspark.pipeline import runner, standardize
    from kgspark.pipeline.ingest import PAGES_SCHEMA

    pages = spark.createDataFrame(datagen.generate_rows(6, seed=3), PAGES_SCHEMA)
    seen = []
    orig = standardize.standardize

    def spy(triples, broadcast_map=None, max_broadcast_rows=5_000_000, **kw):
        seen.append(broadcast_map)
        return orig(triples, broadcast_map=broadcast_map,
                    max_broadcast_rows=max_broadcast_rows, **kw)

    standardize.standardize = spy
    try:
        small = runner.build_triples(pages, KgConfig(), from_html=True)
        rows_small = {tuple(r) for r in small.collect()}
        big = runner.build_triples(
            pages, KgConfig(broadcast_map_max_rows=0), from_html=True)
        rows_big = {tuple(r) for r in big.collect()}
    finally:
        standardize.standardize = orig
    assert seen == [True, False]
    # both decisions produce identical output
    assert rows_big == rows_small and rows_small
