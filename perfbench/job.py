"""One benchmark job process: a fresh Python driver and JVM that runs a
list of steps over one pages corpus, then exits.

Run as ``python3 perfbench/job.py SPEC.json``; ``run.py`` writes the spec
and reads back the result file it names.  Spec keys:

  driver_memory, local_dir, cfg (KgConfig fields), pages, result
  steps   list of {"kind": "run" | "traced", "master", "out",
          "eventlog", "walls_only", "pages" (optional; the step's own
          pages dir instead of the spec's)}: "run" calls
          ``run_pipeline``; "traced" runs ``phases.traced_job``.  A step
          whose master or event-log dir differs from the previous one
          stops the SparkContext and starts a new one in the same JVM.

All times in the result are ``time.time()`` epochs, so the parent can
line them up with its /proc samples.
"""

from __future__ import annotations

import json
import sys
import time


def _session(spec: dict, master: str, eventlog_dir: str | None):
    from kgspark.session import get_session

    conf = {
        "spark.local.dir": spec["local_dir"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['local_dir']}",
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
        })
    return get_session(master=master, app_name="perfbench",
                       driver_memory=spec["driver_memory"], extra_conf=conf)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    from kgspark.config import KgConfig
    from kgspark.pipeline.runner import run_pipeline

    cfg = KgConfig(**spec["cfg"])
    res: dict = {"steps": []}
    spark = None
    current = None
    for step in spec["steps"]:
        want = (step["master"], step.get("eventlog"))
        if want != current:
            if spark is not None:
                spark.stop()
            spark = _session(spec, *want)
            current = want
            res.setdefault("t_session", time.time())
        t0 = time.time()
        if step["kind"] == "run":
            out = run_pipeline(spark, spec["pages"], step["out"], cfg)
        else:
            from phases import traced_job

            out = traced_job(spark, step.get("pages", spec["pages"]), step["out"], cfg,
                             walls_only=step.get("walls_only", False))
        res["steps"].append({"t": [t0, time.time()], "out": out})
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])
