"""End-to-end pipeline driver + manifest-based idempotent resume.

Pipeline (SURVEY §3 EP-1/EP-2 restated on Spark):

  pages →(Arrow UDF extract_text)→ text →(Arrow UDF chunk, posexplode)→
  chunks →(Arrow UDF pattern extraction, posexplode)→ raw triples
  →(phase 2 per-document kernel, one url exchange + mapInArrow)→ standardized
  →(phase 3 per-document kernel, same shape)→ final triples
  → parquet/Iceberg sinks (triples, entities, edges) + manifests

Resume contract (reference analog: completed-year scan + skip at
policy_kg_batch_generator.py:87-99,196-210): work is partitioned by
url-hash bucket; a bucket with a ``status='success'`` manifest row for the
final stage is skipped on rerun (anti-join), so a killed run resumes
idempotently and the final table equals an uninterrupted run's.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from kgspark.config import KgConfig
from kgspark.pipeline import chunking, extraction, inference, ingest, linking, standardize

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("started_at", T.DoubleType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def dedup_pages(pages: DataFrame, from_html: bool = True) -> DataFrame:
    """Exact content dedup ahead of every downstream stage: one shuffle
    keyed by content hash (128-bit md5 — collision odds negligible at
    corpus scale), winner = lexicographically smallest url, so the
    surviving set is deterministic under any partitioning.  Hashing the
    raw bytes (html when present, else text) dedups before the Arrow
    extraction pass — the whole point: duplicate pages never pay
    extraction.

    md5(NULL) is NULL: without the coalesce every null-content page
    would collapse into ONE null-hash group and all but the min-url row
    be silently dropped — but null content proves nothing about
    duplication, so such pages pass through unconditionally (each forms
    its own singleton group keyed by its url)."""
    content = F.md5(F.col("html")) if from_html and "html" in pages.columns \
        else F.md5(F.col("text"))
    content = F.coalesce(content, F.col("url"))
    winners = (
        pages.select(content.alias("_ch"), "url")
        .groupBy("_ch").agg(F.min("url").alias("url"))
        .select("url")
    )
    return pages.join(winners, "url", "left_semi")


def build_triples(pages: DataFrame, cfg: KgConfig, from_html: bool = True,
                  materialize: bool | str = True,
                  timings: dict | None = None,
                  fused_phase1: bool = True) -> DataFrame:
    """pages → final triples DataFrame (no I/O).

    ``materialize`` picks the inter-phase barrier.  Phases 2-3 each branch
    over their input several times (entity map + two apply joins;
    originals/transitive/lexical/edges), so without a materialization
    barrier the Arrow-UDF extraction re-executes once per branch
    (measured 5× wall-clock at sf0.1):

      * ``"localCheckpoint"`` / ``True`` — eager executor-local
        checkpoint: truncates lineage (keeps the composed plan small),
        but checkpointed blocks die with their executor — the
        single-JVM/local answer.
      * ``"persist"`` — lazy MEMORY_AND_DISK persist: blocks are
        recomputable from lineage on executor loss — the cluster answer.
      * ``False`` / ``"none"`` — no barrier (tiny inputs only).

    ``timings`` (optional dict) collects per-phase wall seconds for the
    eager strategies — the scaling bench uses it to locate non-scaling
    phases.
    """
    strategy = "localCheckpoint" if materialize is True else (
        "none" if materialize is False else materialize)

    if cfg.page_dedup_enabled:
        pages = dedup_pages(pages, from_html=from_html)

    if cfg.quality_filter_enabled and "text" in pages.columns:
        # Gopher repetition caps over the shipped text column, applied as
        # a left-semi join on url — co-partitions with the url-hash
        # layout, so no extra corpus-global shuffle shape at scale.
        # The caps are word-based (whitespace tokenization), so they only
        # gate pages whose text is whitespace-tokenizable; CJK-dominant
        # pages (few/no spaces — "words" degenerate to whole lines) pass
        # through, the standard language-scoped application of these
        # filters.
        from kgspark.ops.textstats import (cjk_char_count, gopher_keep,
                                           repetition_signals)
        # null text (extraction happens later, from html) must pass
        # through, not silently fail both ratio branches — coalesce to
        # "" so such pages land in the gated branch with n_words=0 and
        # the min_words exemption keeps them
        txt = F.coalesce(F.col("text"), F.lit(""))
        cjk_ratio = cjk_char_count(txt) / F.greatest(F.length(txt), F.lit(1))
        gated = pages.withColumn("_qt", txt).filter(cjk_ratio <= 0.05)
        keep = (
            repetition_signals(gated, "url", "_qt")
            # min_words=50: Gopher's repetition caps assume real-document
            # lengths (its own pipeline length-gates first); short pages
            # are kept, not culled, in a KG pipeline
            .filter(gopher_keep(min_words=50))
            .select("url")
            .union(pages.filter(cjk_ratio > 0.05).select("url"))
        )
        pages = pages.join(keep, "url", "left_semi")

    def cut(df: DataFrame, name: str) -> DataFrame:
        t0 = time.time()
        if strategy == "localCheckpoint":
            df = df.localCheckpoint(eager=True)
        elif strategy == "persist":
            from pyspark import StorageLevel
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()  # force now so the phase is timed and run once
        if timings is not None:
            timings[name] = round(time.time() - t0, 2)
        return df

    if fused_phase1:
        # one Arrow pass: html→[t2s]→chunk→extract (text crosses the
        # Python boundary once; parity with the modular chain is a test
        # invariant)
        out = cut(
            extraction.extract_pipeline_fused(
                pages, cfg.chunk_size, cfg.overlap,
                from_html=from_html, t2s=cfg.t2s_enabled),
            "extract",
        )
    else:
        if from_html:
            pages = ingest.with_extracted_text(pages)
        if cfg.t2s_enabled:
            pages = ingest.with_t2s(pages)
        chunks = chunking.chunk_pages(pages, cfg.chunk_size, cfg.overlap)
        out = cut(extraction.extract_raw_triples(chunks), "extract")
    if cfg.standardization_enabled:
        # broadcast decision from the triples count alone — NO map-sizing
        # job: the entity map has at most 2 rows per triple, so when
        # 2×|triples| is under the cutoff broadcast is provably safe and
        # forced.  Above the cutoff the map MIGHT still be small (heavy
        # entity repetition), but standardize()'s url partitioning makes
        # the shuffle joins exchange-free on the big side anyway — the
        # mid-plan count apply_entity_map would otherwise run per
        # invocation costs more than the missed broadcast saves.  The
        # count below scans the just-materialized barrier — no recompute.
        bmap = None
        if strategy != "none":
            bmap = 2 * out.count() <= cfg.broadcast_map_max_rows
        out = cut(standardize.standardize(
            out, broadcast_map=bmap,
            max_broadcast_rows=cfg.broadcast_map_max_rows), "standardize")
    else:
        out = out.withColumn("chunk", F.coalesce("chunk", F.lit(0)).cast("int"))
    if cfg.inference_enabled:
        out = inference.infer(out)
    else:
        out = out.withColumn("inferred", F.lit(False)) \
                 .select("url", "subject", "predicate", "object", "chunk", "seq", "inferred")
    if cfg.community_inference_enabled:
        # O-21/O-22 branch over the inferred graph several times (CC,
        # degrees, pair gen) — barrier first
        from kgspark.pipeline import community
        out = cut(out, "infer_pre_community")
        out = out.unionByName(community.community_inference(out))
    if cfg.lsh_linking_enabled:
        # barrier before the LSH self-join: linking scans its input many
        # times (signatures, bands, verify, CC) — see module docstring
        out = cut(out, "infer")
        out = linking.apply_linking(out, linking.link_entities(out, cfg),
                                    max_broadcast_rows=cfg.broadcast_map_max_rows)
    return out


def entities_table(triples: DataFrame) -> DataFrame:
    """(entity, mention count, degree) — derived sets, reference
    main.py:188-206 / analyze_kg_data.py:31-40."""
    mentions = (
        triples.select(F.explode(F.array("subject", "object")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("mentions"))
    )
    und = (
        triples.select(F.col("subject").alias("a"), F.col("object").alias("b"))
        .union(triples.select(F.col("object").alias("a"), F.col("subject").alias("b")))
        .distinct()
    )
    deg = und.groupBy(F.col("a").alias("entity")).agg(F.count("*").alias("degree"))
    return mentions.join(deg, "entity", "left").na.fill({"degree": 0})


def edges_table(triples: DataFrame) -> DataFrame:
    return triples.select(
        F.col("subject").alias("src"), F.col("object").alias("dst"), "predicate", "inferred"
    ).distinct()


def _completed_buckets(spark: SparkSession, manifest_path: str, stage: str) -> DataFrame:
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except Exception:
        return spark.createDataFrame([], "bucket int")
    return (
        m.filter((F.col("stage") == stage) & (F.col("status") == "success"))
        .select("bucket")
        .distinct()
    )


def _process_group(spark, pages, cfg, from_html, run_id, triples_path):
    """One failure domain: build + write triples for a set of buckets,
    return the manifest rows.  Raises on any job error — the caller
    records the failure."""
    t0 = time.time()
    in_per_bucket = {
        r["bucket"]: r["cnt"]
        for r in pages.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    if not in_per_bucket:
        return [], 0
    triples = build_triples(pages, cfg, from_html=from_html)
    # carry the bucket through for partitioned write + lineage
    bucketed = triples.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_buckets)).cast("int")
    ).persist()
    # dynamic partition overwrite: a bucket interrupted before its manifest
    # row landed is rewritten (not duplicated) on resume — idempotence
    (
        bucketed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(triples_path)
    )
    per_bucket = (
        bucketed.groupBy("bucket").agg(F.count("*").alias("rows_out")).collect()
    )
    # per-bucket partial aggregates for the derived tables, overwritten
    # WITH their bucket: the final entities/edges merge then scans only
    # these partials, never the full triples table (incremental runs at
    # corpus scale must not pay a full-corpus rebuild per batch)
    out_dir = os.path.dirname(triples_path)
    mention_partials = (
        bucketed.select("bucket", F.explode(F.array("subject", "object")).alias("entity"))
        .groupBy("bucket", "entity")
        .agg(F.count("*").alias("mentions"))
    )
    edge_partials = bucketed.select(
        "bucket", F.col("subject").alias("src"), F.col("object").alias("dst"),
        "predicate", "inferred",
    ).distinct()
    for name, df in (("mention_partials", mention_partials),
                     ("edge_partials", edge_partials)):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, name))
        )
    bucketed.unpersist()
    # Dynamic partition overwrite only rewrites partitions PRESENT in the
    # new output: a reprocessed bucket (force=True, or retry after a
    # failure) that now yields zero triples would otherwise keep its stale
    # partition files — phantom rows surviving into the entities/edges
    # merge.  Clear those partition dirs explicitly (Hadoop FS API, so the
    # same code path works on HDFS/S3A, not just local disk).
    seen = {int(r["bucket"]) for r in per_bucket}
    zero_buckets = [int(b) for b in in_per_bucket if int(b) not in seen]
    if zero_buckets:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for base in (triples_path,
                     os.path.join(out_dir, "mention_partials"),
                     os.path.join(out_dir, "edge_partials")):
            for b in zero_buckets:
                p = jvm.org.apache.hadoop.fs.Path(
                    os.path.join(base, f"bucket={b}"))
                fs = p.getFileSystem(hconf)
                if fs.exists(p):
                    fs.delete(p, True)
    t1 = time.time()
    manifest_rows = [
        (run_id, "triples", int(r["bucket"]), int(in_per_bucket.get(r["bucket"], 0)),
         int(r["rows_out"]), t0, t1, "success", None)
        for r in per_bucket
    ]
    # buckets that had pages but produced zero triples still complete
    for bkt, cnt in in_per_bucket.items():
        if int(bkt) not in seen:
            manifest_rows.append(
                (run_id, "triples", int(bkt), int(cnt), 0, t0, t1, "success", None))
    return manifest_rows, sum(int(r["rows_out"]) for r in per_bucket)


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    cfg: KgConfig | None = None,
    from_html: bool = True,
    force: bool = False,
    bucket_groups: int = 1,
    table_prefix: str = "kg",
) -> dict:
    """Resumable batch job: process pending url-hash buckets, append
    per-bucket triples + manifest rows, rebuild entities/edges tables.

    ``bucket_groups`` > 1 splits the pending buckets into that many
    failure domains processed sequentially: a group that throws appends
    ``status='failed'`` manifest rows (with the error message) for its
    buckets and the run continues — the reference's per-year error JSON
    (policy_kg_batch_generator.py:152-164).  Failed buckets are NOT
    marked complete, so the next run reprocesses exactly those.

    ``table_prefix`` names the catalog tables written when
    ``cfg.bucketed_output`` is on (``{prefix}_entities`` /
    ``{prefix}_edges``).
    """
    cfg = cfg or KgConfig()
    run_id = uuid.uuid4().hex[:12]
    triples_path = os.path.join(out_dir, "triples")
    manifest_path = os.path.join(out_dir, "manifests")

    pages = ingest.with_bucket(ingest.read_pages(spark, pages_path), cfg.num_buckets)
    if not force:
        done = _completed_buckets(spark, manifest_path, "triples")
        pages = pages.join(done, "bucket", "left_anti")
    pages = ingest.repartition_salted(pages, cfg)

    t0 = time.time()
    n_pages = pages.count()
    if n_pages == 0:
        return {"run_id": run_id, "pages": 0, "triples": 0, "buckets": 0,
                "failed_buckets": 0, "seconds": 0.0}
    pages = pages.persist()

    manifest_rows: list = []
    n_triples = 0
    n_failed = 0
    for g in range(bucket_groups):
        group_pages = (
            pages if bucket_groups == 1
            else pages.filter(F.col("bucket") % bucket_groups == g)
        )
        try:
            rows, triples_out = _process_group(
                spark, group_pages, cfg, from_html, run_id, triples_path)
            manifest_rows.extend(rows)
            n_triples += triples_out
        except Exception as exc:  # failure manifest, keep processing
            tf = time.time()
            err = f"{type(exc).__name__}: {exc}"[:500]
            failed = [
                int(r["bucket"]) for r in group_pages.select("bucket").distinct().collect()
            ]
            n_failed += len(failed)
            manifest_rows.extend(
                (run_id, "triples", b, 0, 0, t0, tf, "failed", err) for b in failed
            )
    t1 = time.time()
    if manifest_rows:
        spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA).write.mode(
            "append").parquet(manifest_path)

    # entities/edges merged from the per-bucket PARTIAL aggregates (written
    # by _process_group with dynamic partition overwrite, so they stay
    # consistent with the triples buckets): mention counts sum across
    # buckets; edges/degree dedup the per-bucket distinct edge lists —
    # both scans are over the compact partials, not the triples table.
    # Only the missing-partials case (every group failed before any
    # triples landed) is tolerated; real merge failures (corrupt partials,
    # schema drift, disk full) must propagate, not leave the derived
    # tables silently stale.
    from pyspark.errors import AnalysisException
    try:
        mp = spark.read.parquet(os.path.join(out_dir, "mention_partials"))
        ep = spark.read.parquet(os.path.join(out_dir, "edge_partials"))
        edges = ep.select("src", "dst", "predicate", "inferred").distinct()
        mentions = mp.groupBy("entity").agg(F.sum("mentions").alias("mentions"))
        und = (
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
            .distinct()
        )
        deg = und.groupBy(F.col("a").alias("entity")).agg(F.count("*").alias("degree"))
        ents = mentions.join(deg, "entity", "left").na.fill({"degree": 0})
        if cfg.bucketed_output:
            # bucketed-by-entity-key layout (tables.py): the repeated
            # analytics joins edges.src ⋈ entities.entity then run with
            # no Exchange (plan-asserted in tests); one task per bucket
            # so each bucket is a single sorted file.  The files still
            # land under out_dir, so path readers keep working — only
            # the catalog read carries the bucket metadata.
            from kgspark.pipeline import tables as _tables
            _tables.write_bucketed(
                ents.repartition(cfg.num_buckets, "entity"),
                f"{table_prefix}_entities", "entity",
                num_buckets=cfg.num_buckets,
                path=os.path.join(out_dir, "entities"))
            _tables.write_bucketed(
                edges.repartition(cfg.num_buckets, "src"),
                f"{table_prefix}_edges", "src",
                num_buckets=cfg.num_buckets,
                path=os.path.join(out_dir, "edges"))
        else:
            ents.write.mode("overwrite").parquet(os.path.join(out_dir, "entities"))
            edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    except AnalysisException as exc:
        # PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA: every group failed (or
        # produced zero rows) before any partials landed — nothing to
        # rebuild.  Any other analysis error is a real defect that must
        # not leave the derived tables silently stale.
        benign = ("PATH_NOT_FOUND", "Path does not exist",
                  "UNABLE_TO_INFER_SCHEMA")
        if not any(b in str(exc) for b in benign):
            raise

    pages.unpersist()
    return {
        "run_id": run_id,
        "pages": n_pages,
        "triples": n_triples,
        "buckets": len(manifest_rows),
        "failed_buckets": n_failed,
        "seconds": t1 - t0,
    }


def progress_report(spark: SparkSession, out_dir: str,
                    num_buckets: int | None = None) -> DataFrame:
    """C-5: monitoring summary over the manifests (reference analog:
    monitor_kg_progress.py's per-year progress print).  One row per
    status over each bucket's LATEST attempt: bucket count, rows in/out,
    last finish time, and — when ``num_buckets`` is given — the fraction
    of the keyspace in that status."""
    from pyspark.sql import Window

    m = spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(out_dir, "manifests"))
    w = Window.partitionBy("bucket").orderBy(
        F.desc("finished_at"), F.desc("run_id"))
    latest = m.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    out = latest.groupBy("status").agg(
        F.count("*").alias("buckets"),
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_out").alias("rows_out"),
        F.max("finished_at").alias("last_finished_at"),
    )
    if num_buckets:
        out = out.withColumn(
            "pct_of_keyspace", F.round(F.col("buckets") * 100.0 / num_buckets, 2))
    return out
