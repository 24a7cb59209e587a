"""The traced run: the job's phases composed from the engine's public
functions in ``build_triples`` order, each labelled with ``setJobGroup``
and closed by the same eager ``localCheckpoint`` barrier the runner uses,
plus the Spark event-log reader that turns stages into per-phase metrics.

The composition mirrors ``runner.run_pipeline`` for one bucket group:
ingest (scan, bucket, resume anti-join, salted repartition), then dedup,
gate, extract, standardize, infer, link (each only when the config runs
it), then sink (partitioned triples, per-bucket partials, manifests, and
the entities/edges merge).  Counting rows after a barrier scans the
checkpoint, not the plan, so it adds one small job per phase.

The ingest, gate and sink steps are copies of inline code in ``runner``,
not calls into it: the engine exposes no function for them.  So that a
change there cannot leave the traced run measuring stale code,
:func:`check_mirrors` compares fingerprints of the mirrored runner
functions with the ones pinned in ``MIRRORED`` and refuses to trace on a
mismatch.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import statistics
import textwrap
import time

from pyspark.sql import DataFrame, functions as F

from kgspark.config import KgConfig
from kgspark.ops import textstats
from kgspark.pipeline import extraction, inference, ingest, linking, runner, standardize

PHASES = ("ingest", "dedup", "gate", "extract", "standardize", "infer", "link", "sink")

# fingerprints of the runner functions this module copies code from
MIRRORED = {
    "build_triples": "1c12f75843a8bfc9",
    "_process_group": "f1a682240a661642",
    "_completed_buckets": "d52e9f3fd64b13d5",
    "run_pipeline": "6436fe63ca936f8b",
}


def fingerprint(fn) -> str:
    """Hash of a function's syntax tree without docstrings: comments,
    docstrings and formatting do not change it."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.body \
                and isinstance(node.body[0], ast.Expr) \
                and isinstance(node.body[0].value, ast.Constant) \
                and isinstance(node.body[0].value.value, str):
            node.body = node.body[1:] or [ast.Pass()]
    return hashlib.sha256(ast.dump(tree).encode()).hexdigest()[:16]


def check_mirrors() -> None:
    """Raise when a runner function this module copies from has changed."""
    drift = [n for n, h in MIRRORED.items() if fingerprint(getattr(runner, n)) != h]
    if drift:
        raise RuntimeError(
            "runner." + ", runner.".join(drift) + " changed since perfbench/phases.py "
            "copied it: re-sync perfbench/phases.py (traced ingest, gate and sink) "
            "with runner.py, then update phases.MIRRORED")


class _Phases:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.out: dict[str, dict] = {}

    def run(self, name: str, fn):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        df, rows, extra = fn()
        t1 = time.time()
        self.out[name] = {"t": [t0, t1], "rows_out": rows, **extra}
        return df


def _cut(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _gate(pages: DataFrame) -> DataFrame:
    # the quality gate exactly as build_triples applies it
    txt = F.coalesce(F.col("text"), F.lit(""))
    cjk_ratio = textstats.cjk_char_count(txt) / F.greatest(F.length(txt), F.lit(1))
    gated = pages.withColumn("_qt", txt).filter(cjk_ratio <= 0.05)
    keep = (
        textstats.repetition_signals(gated, "url", "_qt")
        .filter(textstats.gopher_keep(min_words=50))
        .select("url")
        .union(pages.filter(cjk_ratio > 0.05).select("url"))
    )
    return pages.join(keep, "url", "left_semi")


def traced_job(spark, pages_path: str, out_dir: str, cfg: KgConfig,
               walls_only: bool = False) -> dict:
    """Run the job phase by phase, each under a job group named after the
    phase.  Returns, per phase that ran: its [start, end] epochs, rows out
    and the phase's extra counters.  Before the link phase, outside its
    span, it counts entities and LSH candidate/verified pairs.

    ``walls_only`` (the scaling pair) skips those counters and the sink,
    and returns instead, under ``"digest"``, the count and hash sum of the
    distinct (url, s, p, o, inferred) rows, taken after the last span."""
    ph = _Phases(spark)
    triples_path = os.path.join(out_dir, "triples")
    manifest_path = os.path.join(out_dir, "manifests")

    def do_ingest():
        pages = ingest.with_bucket(ingest.read_pages(spark, pages_path), cfg.num_buckets)
        if os.path.isdir(manifest_path):
            done = (spark.read.schema(runner.MANIFEST_SCHEMA).parquet(manifest_path)
                    .filter((F.col("stage") == "triples") & (F.col("status") == "success"))
                    .select("bucket").distinct())
            pages = pages.join(done, "bucket", "left_anti")
        pages = ingest.repartition_salted(pages, cfg).persist()
        return pages, pages.count(), {}

    pages = ph.run("ingest", do_ingest)
    n_in = ph.out["ingest"]["rows_out"]
    if cfg.page_dedup_enabled:
        pages = ph.run("dedup", lambda: (*_cut(runner.dedup_pages(pages)), {}))
        ph.out["dedup"]["pages_dropped"] = n_in - ph.out["dedup"]["rows_out"]
        n_in = ph.out["dedup"]["rows_out"]
    if cfg.quality_filter_enabled:
        pages = ph.run("gate", lambda: (*_cut(_gate(pages)), {}))
        ph.out["gate"]["pages_dropped"] = n_in - ph.out["gate"]["rows_out"]
    out = ph.run("extract", lambda: (*_cut(extraction.extract_pipeline_fused(
        pages, cfg.chunk_size, cfg.overlap, from_html=True, t2s=cfg.t2s_enabled)), {}))
    if cfg.standardization_enabled:
        bmap = 2 * ph.out["extract"]["rows_out"] <= cfg.broadcast_map_max_rows
        out = ph.run("standardize", lambda: (*_cut(standardize.standardize(
            out, broadcast_map=bmap, max_broadcast_rows=cfg.broadcast_map_max_rows)), {}))
    if cfg.inference_enabled:
        out = ph.run("infer", lambda: (*_cut(inference.infer(out)), {}))
    if cfg.lsh_linking_enabled:
        stats = {}
        if not walls_only:
            spark.sparkContext.setJobGroup("link.stats", "link counters")
            ents = out.select(F.explode(F.array("subject", "object")).alias("entity")).distinct()
            cands = linking.lsh_candidate_pairs(ents, "entity", cfg).localCheckpoint(eager=True)
            stats = {
                "entities": ents.count(),
                "candidate_pairs": cands.count(),
                "verified_pairs": linking.verify_jaccard(
                    cands, cfg.lsh_jaccard_threshold).count(),
            }
        out = ph.run("link", lambda: (*_cut(linking.apply_linking(
            out, linking.link_entities(out, cfg),
            max_broadcast_rows=cfg.broadcast_map_max_rows)), stats))

    def do_sink():
        bucketed = out.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_buckets)).cast("int")).persist()
        (bucketed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(triples_path))
        per_bucket = bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        mention_partials = (
            bucketed.select("bucket", F.explode(F.array("subject", "object")).alias("entity"))
            .groupBy("bucket", "entity").agg(F.count("*").alias("mentions")))
        edge_partials = bucketed.select(
            "bucket", F.col("subject").alias("src"), F.col("object").alias("dst"),
            "predicate", "inferred").distinct()
        for name, df in (("mention_partials", mention_partials),
                         ("edge_partials", edge_partials)):
            (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(os.path.join(out_dir, name)))
        bucketed.unpersist()
        now = time.time()
        rows = [("traced", "triples", int(r["bucket"]), 0, int(r["n"]), now, now,
                 "success", None) for r in per_bucket]
        spark.createDataFrame(rows, runner.MANIFEST_SCHEMA).write.mode(
            "append").parquet(manifest_path)
        t_merge = time.time()
        mp = spark.read.parquet(os.path.join(out_dir, "mention_partials"))
        ep = spark.read.parquet(os.path.join(out_dir, "edge_partials"))
        edges = ep.select("src", "dst", "predicate", "inferred").distinct()
        mentions = mp.groupBy("entity").agg(F.sum("mentions").alias("mentions"))
        und = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
               .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
               .distinct())
        deg = und.groupBy(F.col("a").alias("entity")).agg(F.count("*").alias("degree"))
        ents = mentions.join(deg, "entity", "left").na.fill({"degree": 0})
        ents.write.mode("overwrite").parquet(os.path.join(out_dir, "entities"))
        edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
        files = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(out_dir) for f in fs)
        return None, sum(int(r["n"]) for r in per_bucket), {
            "merge_s": time.time() - t_merge, "files_written": files}

    if walls_only:
        cols = ["url", "subject", "predicate", "object", "inferred"]
        row = out.select(*cols).distinct().agg(
            F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
        ph.out["digest"] = [int(row[0]), str(row[1])]
    else:
        ph.run("sink", do_sink)
    pages.unpersist()
    return ph.out


# --- event log ---------------------------------------------------------------

ZERO = {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
         "shuffle_read_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0,
         "task_skew": 1.0, "jobs": 0, "stages": 0, "tasks": 0}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task CPU, GC, shuffle bytes, spill, peak execution
    memory, job/stage/task counts, and task skew (max/median task run
    time of the group's heaviest stage)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    # Spark 4 writes each application's log as a directory of rolled
    # ``events_*`` files
    files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_") or d == log_dir)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    groups.setdefault(g, dict(ZERO))["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = g
                    groups.setdefault(g, dict(ZERO))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    sid = ev["Stage ID"]
                    if m is None or sid not in stage_group:
                        continue
                    acc = groups[stage_group[sid]]
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["gc_s"] += m["JVM GC Time"] / 1e3
                    acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    acc["peak_exec_mem_bytes"] = max(acc["peak_exec_mem_bytes"],
                                                     m["Peak Execution Memory"])
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) \
                        + sr.get("Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    stage_tasks.setdefault(sid, []).append(m["Executor Run Time"])
    heaviest: dict[str, tuple[float, float]] = {}
    for sid, runs in stage_tasks.items():
        g = stage_group[sid]
        total = sum(runs)
        if len(runs) > 1 and total > heaviest.get(g, (-1.0, 1.0))[0]:
            med = statistics.median(runs)
            heaviest[g] = (total, max(runs) / med if med > 0 else 1.0)
    for g, (_total, skew) in heaviest.items():
        groups[g]["task_skew"] = skew
    return groups
