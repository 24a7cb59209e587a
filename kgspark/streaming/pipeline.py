"""Structured Streaming surface.

The reference is strictly batch (SURVEY §2.8) and the engine's resume
story is manifest-based, so streaming is an ADDITIVE surface: continuous
ingestion of newly-crawled page files into the same deterministic
pipeline, and watermarked windowed aggregation over event streams.

Design: the KG phases are pure DataFrame→DataFrame functions, so the
streaming path is `readStream` + `foreachBatch(build_triples)` — one code
path for batch and streaming (the Spark-idiomatic way to reuse a complex
batch pipeline with joins/windows that aren't stream-supported), with
exactly-once sink semantics from the checkpointed batch id.

``start_kg_labels_stream`` also keeps connected-component labels current:
each batch folds its edges into the previous labels snapshot (prior
components enter as stars, so the fold is one production CC call) and
writes a new versioned snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from kgspark.config import KgConfig
from kgspark.pipeline.ingest import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over a growing directory of pages parquet."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _write_batch_triples(batch_df: DataFrame, batch_id: int,
                         triples_path: str, cfg: KgConfig,
                         from_html: bool, barrier: bool = False) -> DataFrame | None:
    """Shared per-micro-batch body: run the deterministic pipeline and
    land the batch's triples under its own ``batch_id=`` partition with
    dynamic partition overwrite — foreachBatch delivery is
    at-least-once, so a retried batch must REPLACE its partition, not
    append a duplicate.  Returns the batch's triples DataFrame, or None
    if empty.  ``barrier`` cuts the returned frame's lineage first:
    build_triples' internal barrier sits BEFORE the inference tail, so
    a caller that consumes the result again (the labels stream) would
    otherwise re-execute that tail per extra consumer."""
    from kgspark.pipeline.runner import build_triples

    if batch_df.isEmpty():
        return None
    out = build_triples(batch_df, cfg, from_html=from_html)
    if barrier:
        out = out.localCheckpoint(eager=True)
    (
        out.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(triples_path)
    )
    return out


def start_triples_stream(
    pages_stream: DataFrame,
    out_dir: str,
    cfg: KgConfig | None = None,
    from_html: bool = True,
    available_now: bool = True,
):
    """pages stream → triples parquet via foreachBatch(build_triples).

    Each micro-batch runs the full deterministic pipeline (per-document
    semantics make batch boundaries safe: no cross-document state) and
    lands its own ``batch_id=`` partition; together with the streaming
    checkpoint (skip committed batches) and the dynamic partition
    overwrite (retried batches replace, not duplicate), delivery is
    exactly-once."""
    cfg = cfg or KgConfig()
    triples_path = os.path.join(out_dir, "triples")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int):
        _write_batch_triples(batch_df, batch_id, triples_path, cfg, from_html)

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming
    twin of ops.events.tumbling_counts; late rows beyond the watermark
    are dropped, state is bounded."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def _list_label_versions(
        spark: SparkSession, labels_root: str) -> tuple[list[int], list[int]]:
    """(complete, partial) ``v=<n>`` snapshot versions under
    ``labels_root`` via the Hadoop FS API (works on HDFS/S3A, not just
    local disk).  Complete = the ``_SUCCESS`` marker exists — the ONE
    definition of snapshot completeness, shared by the reader and the
    reaper so they can never disagree."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(labels_root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    complete: list[int] = []
    partial: list[int] = []
    if not fs.exists(p):
        return complete, partial
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not (name.startswith("v=") and name[2:].isdigit()):
            continue
        v = int(name[2:])
        ok = fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS"))
        (complete if ok else partial).append(v)
    return sorted(complete), sorted(partial)


def _latest_labels_version(spark: SparkSession, labels_root: str,
                           before: int | None = None) -> int | None:
    """Largest COMPLETE snapshot version (see ``_list_label_versions``
    — a crashed mid-flight write must never be read as "previous": its
    missing nodes would be dropped from every later labeling).
    ``before`` caps the search (exclusive): a RETRIED batch must fold
    into the version before its own, not into its own partial output."""
    complete, _ = _list_label_versions(spark, labels_root)
    versions = [v for v in complete if before is None or v < before]
    return max(versions) if versions else None


def read_latest_labels(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Latest (node, component) labeling written by
    ``start_kg_labels_stream``; None before the first batch."""
    root = os.path.join(out_dir, "cc_labels")
    v = _latest_labels_version(spark, root)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(root, f"v={v}"))


def start_kg_labels_stream(
    pages_stream: DataFrame,
    out_dir: str,
    cfg: KgConfig | None = None,
    from_html: bool = True,
    available_now: bool = True,
):
    """Continuous KG construction WITH incrementally-maintained
    connected-component labels: each micro-batch runs the deterministic
    pipeline, appends its triples, and folds its new edges into the
    previous batch's (node, component) labeling via
    ``graph.incremental_connected_components`` — one min-label CC over
    the previous labeling's (node → component) star edges and the
    batch's edges, never a re-read of the accumulated triples.  The
    first batch has no previous labeling and runs a plain
    ``connected_components`` over its own edges.  Labels land under
    ``out_dir/cc_labels/v=<batch_id>``: version dirs are immutable
    once written and a retried batch overwrites only its own version,
    so the read-latest/write-next cycle is crash-idempotent; old
    versions are the retention knob (compact/expire out-of-band).  ``read_latest_labels`` returns the
    current labeling, asserted in tests to equal a full CC over all
    edges streamed so far."""
    from kgspark.pipeline.graph import (
        connected_components,
        incremental_connected_components,
    )

    cfg = cfg or KgConfig()
    triples_path = os.path.join(out_dir, "triples")
    labels_root = os.path.join(out_dir, "cc_labels")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        # GUARD FIRST, write second: a complete snapshot NEWER than this
        # batch means the streaming checkpoint was reset while cc_labels
        # was kept — folding would silently mix two incompatible label
        # lineages.  The check must run BEFORE any write: the triples
        # partition overwrite below would otherwise clobber the kept
        # run's batch_id=N partition before the batch fails.
        # (before=batch_id: a retried batch folds into its predecessor's
        # snapshot, never its own possibly-partial earlier attempt;
        # snapshot versions ARE streaming batch ids, lockstep by design.)
        prev_v = _latest_labels_version(spark, labels_root, before=batch_id)
        newest = _latest_labels_version(spark, labels_root)
        if newest is not None and newest > batch_id:
            raise RuntimeError(
                f"cc_labels holds snapshot v={newest} but the stream is at "
                f"batch {batch_id}: the streaming checkpoint was reset while "
                "cc_labels was kept. Clear out_dir/cc_labels (or restore the "
                "checkpoint) before restarting — label versions are batch ids.")
        # barrier=True: the edges derivation below consumes `out` again,
        # and build_triples' internal barrier sits before the inference
        # tail — without the cut that tail would run once per consumer
        out = _write_batch_triples(
            batch_df, batch_id, triples_path, cfg, from_html, barrier=True)
        if out is None:
            return
        # edges come from the in-hand batch output — NOT from re-reading
        # the accumulated triples directory, whose listing grows with
        # every batch
        edges = (
            out.select(F.col("subject").alias("src"),
                       F.col("object").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        if prev_v is None:
            labels = connected_components(edges)
        else:
            prev = spark.read.parquet(os.path.join(labels_root, f"v={prev_v}"))
            labels = incremental_connected_components(prev, edges)
        labels.write.mode("overwrite").parquet(
            os.path.join(labels_root, f"v={batch_id}"))

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def expire_label_versions(spark: SparkSession, out_dir: str,
                          keep: int = 3) -> list[int]:
    """Retention for the ``cc_labels`` snapshots: delete all but the
    newest ``keep`` COMPLETE versions, plus stale incomplete dirs
    (crashed writes nothing may read).

    Two protocol guards:

    * ``keep`` must be ≥ 2 (enforced): a retried batch folds into its
      PREDECESSOR snapshot — with only the newest version retained, a
      crash-before-checkpoint-commit retry would find no predecessor
      and silently rebuild the labeling from one batch's edges.
    * the NEWEST partial above every complete version is never deleted:
      it is most likely the stream's in-flight write, and racing its
      commit could yield a truncated dir that then gains a ``_SUCCESS``
      marker — exactly the corruption the completeness gate exists to
      stop.  It becomes reapable once a newer complete snapshot lands.

    Returns the deleted version numbers."""
    if keep < 2:
        raise ValueError(
            f"keep={keep}: retention below 2 breaks the retry protocol "
            "(a retried batch folds into its predecessor snapshot)")
    jvm = spark._jvm
    root = os.path.join(out_dir, "cc_labels")
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    complete, partial = _list_label_versions(spark, root)
    doomed = complete[:-keep]
    max_complete = complete[-1] if complete else -1
    in_flight = max(partial) if partial else None
    doomed += [v for v in partial
               if not (v == in_flight and v > max_complete)]
    deleted = []
    for v in doomed:
        if fs.delete(jvm.org.apache.hadoop.fs.Path(root, f"v={v}"), True):
            deleted.append(v)
    return sorted(deleted)
