"""Batch entry point — ``python -m kgspark.run`` locally, or under
``spark-submit --py-files dist/kgspark.zip tools/submit_kg.py`` on a
cluster (SURVEY §7.0; the reference's CLI analog is main.py:240-300).

Runs the resumable KG-construction job (``runner.run_pipeline``): read a
pages table (parquet or ``iceberg:<table>``), phases 1-3 per url-hash
bucket, append triples + manifests, rebuild entities/edges.  Re-running
the same command resumes: completed buckets are skipped via the
manifest anti-join, so a killed job continues where it stopped.

Prints ONE JSON line with the run summary, e.g.::

    {"run_id": "...", "pages": 2000, "triples": 70385, "buckets": 64,
     "failed_buckets": 0, "seconds": 41.2}

Master selection: pass ``--master`` for self-managed local runs; omit
it under spark-submit — the entry point then builds its session WITHOUT
a master so spark-submit's ``--master``/``--deploy-mode`` stay in
charge (calling ``.master()`` driver-side would silently override the
cluster submission).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(master: str | None, shuffle_partitions: int | None):
    if master:
        from kgspark.session import get_session
        return get_session(master=master, app_name="kgspark-run",
                           shuffle_partitions=shuffle_partitions)
    # spark-submit path: no master here; standard conf only
    from pyspark.sql import SparkSession

    from kgspark.session import standard_conf
    sp = shuffle_partitions or os.cpu_count() or 8
    b = SparkSession.builder.appName("kgspark-run")
    for k, v in standard_conf(sp).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(
        prog="kgspark.run",
        description="Resumable KG-construction batch job (phases 1-3 + sinks)")
    p.add_argument("--input", required=True,
                   help="pages table: parquet path or iceberg:<catalog.table>")
    p.add_argument("--out", required=True,
                   help="output dir (triples/entities/edges/manifests)")
    p.add_argument("--config", default=None, help="TOML config path")
    p.add_argument("--master", default=None,
                   help="Spark master for self-managed runs; omit under spark-submit")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--from-text", action="store_true",
                   help="pages already carry extracted text (skip the HTML kernel)")
    p.add_argument("--force", action="store_true",
                   help="reprocess all buckets, ignoring completion manifests")
    p.add_argument("--bucket-groups", type=int, default=1,
                   help="failure domains per run (>1: a failing group logs "
                        "status=failed and the run continues)")
    p.add_argument("--progress", action="store_true",
                   help="print the per-bucket progress report and exit")
    args = p.parse_args(argv)

    from kgspark.config import KgConfig
    from kgspark.pipeline import runner

    cfg = KgConfig.from_toml(args.config) if args.config else KgConfig()
    spark = _session(args.master, args.shuffle_partitions)
    try:
        if args.progress:
            rows = [r.asDict() for r in
                    runner.progress_report(spark, args.out,
                                           cfg.num_buckets).collect()]
            print(json.dumps({"progress": rows}, default=str))
            return {"progress": rows}
        summary = runner.run_pipeline(
            spark, args.input, args.out, cfg=cfg,
            from_html=not args.from_text, force=args.force,
            bucket_groups=args.bucket_groups)
        print(json.dumps(summary))
        return summary
    finally:
        spark.stop()


if __name__ == "__main__":
    # non-zero when any bucket group failed: orchestrators (cron/Airflow)
    # gate on the exit code, and a partially-failed run must not read as
    # success — the failed buckets are recorded in the manifests and will
    # be reprocessed by the next (now-alerted) run
    _summary = main()
    sys.exit(1 if _summary.get("failed_buckets", 0) else 0)
