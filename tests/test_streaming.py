"""Structured Streaming surface tests: file-source ingest through the full
pipeline via foreachBatch (exactly-once append), and watermarked windowed
aggregation with memory sink."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F, types as T

from kgspark import datagen
from kgspark.config import KgConfig
from kgspark.streaming.pipeline import (
    start_triples_stream,
    stream_pages,
    windowed_event_counts,
)

CFG = KgConfig(num_buckets=8)


def test_stream_matches_batch(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    datagen.write_pages(spark, pages_path, 40, seed=11, partitions=4)

    out = str(tmp_path / "stream_out")
    q = start_triples_stream(
        stream_pages(spark, pages_path, max_files_per_trigger=2), out, CFG
    )
    q.awaitTermination(300)

    from kgspark.pipeline.runner import build_triples
    from kgspark.pipeline.ingest import read_pages

    batch = build_triples(read_pages(spark, pages_path), CFG, from_html=True)
    want = {(r.url, r.subject, r.predicate, r.object, r.inferred)
            for r in batch.collect()}
    got_df = spark.read.parquet(os.path.join(out, "triples"))
    got = {(r.url, r.subject, r.predicate, r.object, r.inferred)
           for r in got_df.collect()}
    assert got == want
    # multiple micro-batches actually ran (maxFilesPerTrigger=2 over 4 files)
    assert got_df.select("batch_id").distinct().count() >= 1

    # restart on the same checkpoint: no new data → no duplicates
    q2 = start_triples_stream(stream_pages(spark, pages_path, 2), out, CFG)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(os.path.join(out, "triples")).count()
    assert got2 == len(got_df.collect())


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    rows = [
        ("2024-01-01 00:01:00", "click"), ("2024-01-01 00:04:00", "click"),
        ("2024-01-01 00:11:00", "view"), ("2024-01-01 00:12:00", "click"),
        ("2024-01-01 00:25:00", "view"),
    ]
    spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "ts string, event_type string"
    ).select(F.to_timestamp("ts").alias("ts"), "event_type").write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("wincounts").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("select * from wincounts").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 00:10:00", "click")] == 1
    assert got[("2024-01-01 00:10:00", "view")] == 1
    assert got[("2024-01-01 00:20:00", "view")] == 1


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions across
    micro-batches + event-time-timeout flush must equal the batch
    sessionize output (ops.events twin)."""
    import os as _os

    from kgspark.ops.events import sessionize
    from kgspark.streaming.sessions import sessionize_stream

    src = str(tmp_path / "ev")
    _os.makedirs(src)
    schema = "user_id long, event_id long, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, "user_id long, event_id long, ts string") \
            .select("user_id", "event_id", F.to_timestamp("ts").alias("ts")) \
            .coalesce(1).write.mode("append").parquet(src)

    # batch 1: user1 session A, user2 first singleton
    write_file("f1", [(1, 1, "2024-01-01 00:00:00"), (1, 2, "2024-01-01 00:10:00"),
                      (1, 3, "2024-01-01 00:20:00"), (2, 4, "2024-01-01 00:05:00")])
    # batch 2: user1 session B (gap > 30min closes A), user2 second singleton
    write_file("f2", [(1, 5, "2024-01-01 02:00:00"), (1, 6, "2024-01-01 02:05:00"),
                      (2, 7, "2024-01-01 01:00:00")])
    # batch 3: far-future sentinel advances the watermark
    write_file("f3", [(999, 8, "2024-01-01 10:00:00")])

    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (sessionize_stream(stream, gap_minutes=30)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    run_once()
    # second run: new file makes one more batch whose START watermark is
    # the sentinel's event time -> open-session timeouts fire and flush
    write_file("f4", [(998, 9, "2024-01-01 11:00:00")])
    run_once()

    got = {
        (r.user_id, str(r.started_at), str(r.ended_at), r.n_events)
        for r in spark.read.parquet(out).filter(F.col("user_id") < 900).collect()
    }
    batch = spark.read.parquet(src).filter(F.col("user_id") < 900)
    want = {
        (r.user_id, str(r.started_at), str(r.ended_at), r.n_events)
        for r in sessionize(batch, gap_minutes=30)
        .select("user_id", "started_at", "ended_at", "n_events").collect()
    }
    assert want and got == want


def test_stream_incremental_cc_labels_match_full_cc(spark, tmp_path):
    """start_kg_labels_stream: after several micro-batches, the latest
    (node, component) labeling equals a full CC over every edge
    streamed so far — the incremental fold is exact across batch
    boundaries."""
    from kgspark.pipeline.graph import connected_components
    from kgspark.streaming.pipeline import (
        read_latest_labels,
        start_kg_labels_stream,
    )

    pages_path = str(tmp_path / "pages")
    datagen.write_pages(spark, pages_path, 40, seed=13, partitions=4)

    out = str(tmp_path / "kg_stream")
    q = start_kg_labels_stream(
        stream_pages(spark, pages_path, max_files_per_trigger=1), out, CFG
    )
    q.awaitTermination(600)

    triples = spark.read.parquet(os.path.join(out, "triples"))
    # one labels version per non-empty micro-batch → incremental path ran
    n_batches = triples.select("batch_id").distinct().count()
    assert n_batches >= 2, "need multiple micro-batches to exercise the fold"
    versions = [
        d for d in os.listdir(os.path.join(out, "cc_labels"))
        if d.startswith("v=")
    ]
    assert len(versions) == n_batches

    edges = (
        triples.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        .filter(F.col("src") != F.col("dst")).distinct()
    )
    want = {(r.node, r.component)
            for r in connected_components(edges).collect()}
    got = {(r.node, r.component)
           for r in read_latest_labels(spark, out).collect()}
    assert got == want


def test_latest_labels_version_skips_partial_and_own(spark, tmp_path):
    """_latest_labels_version must ignore incomplete snapshots (no
    _SUCCESS — a crashed write) and, with before=, a batch's own earlier
    attempt — reading either as 'previous' would drop nodes forever."""
    from kgspark.streaming.pipeline import _latest_labels_version

    root = str(tmp_path / "cc_labels")
    df = spark.createDataFrame([("a", "a")], "node string, component string")
    df.write.parquet(os.path.join(root, "v=3"))
    df.write.parquet(os.path.join(root, "v=5"))
    os.remove(os.path.join(root, "v=5", "_SUCCESS"))  # simulate crash
    assert _latest_labels_version(spark, root) == 3
    df.write.mode("overwrite").parquet(os.path.join(root, "v=7"))
    assert _latest_labels_version(spark, root) == 7
    assert _latest_labels_version(spark, root, before=7) == 3


def test_expire_label_versions_keeps_newest_complete(spark, tmp_path):
    from kgspark.streaming.pipeline import (
        _latest_labels_version,
        expire_label_versions,
    )

    out = str(tmp_path / "kg")
    root = os.path.join(out, "cc_labels")
    df = spark.createDataFrame([("a", "a")], "node string, component string")
    for v in (1, 2, 4, 6):
        df.write.parquet(os.path.join(root, f"v={v}"))
    os.remove(os.path.join(root, "v=4", "_SUCCESS"))  # crashed write
    deleted = expire_label_versions(spark, out, keep=2)
    assert deleted == [1, 4]  # oldest complete + the partial
    assert _latest_labels_version(spark, root) == 6
    assert _latest_labels_version(spark, root, before=6) == 2


def test_labels_stream_detects_checkpoint_reset(spark, tmp_path):
    """A complete snapshot NEWER than the current batch id means the
    streaming checkpoint was reset while cc_labels was kept — the
    stream must fail loudly instead of mixing two label lineages."""
    from pyspark.errors import StreamingQueryException

    from kgspark.streaming.pipeline import start_kg_labels_stream

    pages_path = str(tmp_path / "pages")
    datagen.write_pages(spark, pages_path, 10, seed=17, partitions=1)
    out = str(tmp_path / "kg_stream")
    spark.createDataFrame(
        [("a", "a")], "node string, component string"
    ).write.parquet(os.path.join(out, "cc_labels", "v=9"))
    # sentinel: the kept run's triples partition for the batch id the
    # reset stream will start at — the guard must fire BEFORE the batch
    # write, or this partition would be clobbered by the overwrite
    spark.createDataFrame(
        [("kept-run-sentinel",)], "url string"
    ).write.parquet(os.path.join(out, "triples", "batch_id=0"))

    q = start_kg_labels_stream(stream_pages(spark, pages_path, 16), out, CFG)
    with pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q.awaitTermination(300)
    kept = spark.read.parquet(os.path.join(out, "triples", "batch_id=0"))
    assert [r["url"] for r in kept.collect()] == ["kept-run-sentinel"]
