"""Crawl-to-KG job benchmark.

    python3 perfbench/run.py --workload parity_crawl --seed 1 --seconds 20 --trace 0

Builds the workload's pages corpus from ``--seed`` (cached per seed under
``.perfbench/cache``), then runs closed-loop jobs, one at a time, each the
first ``run_pipeline`` call of a fresh process and JVM at ``local[4]``.
Jobs repeat until ``--seconds`` of timed work has accumulated (at least
one).  Every timed output is checked; a failed check counts every bucket
of that job as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one job
process that runs the traced phases cold at ``local[4]`` with a Spark
event log, then, for scaling, warm at ``local[1]`` and warm at
``local[4]`` over every fourth page; it prints the per-layer metrics.
The last stdout line is the JSON result; a full record of the run goes
to ``.perfbench/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIB = 1 << 20
MASTER = "local[4]"
RUN_LIMIT_S = 175.0
PR_SET_CHILD_SUBREAPER = 36  # prctl(2), Linux
# the traced run's scaling pair runs over every SCALING_STRIDE-th page, so
# a traced scale_crawl run stays inside RUN_LIMIT_S on a contended host
SCALING_STRIDE = 4

# pages per workload corpus: sized so a run (a cold JVM and one job) stays
# well inside the per-run budget on a 4-vCPU box; see README.md
WORKLOADS = {
    "parity_crawl": {"pages": 1000, "cfg": {}},
    "scale_crawl": {"pages": 500, "cfg": {
        "page_dedup_enabled": True, "quality_filter_enabled": True,
        "lsh_linking_enabled": True,
        # 10% of the corpus: only the generator's hot domain (~30% of
        # pages) is above it, so salting fires for exactly one domain
        "hot_domain_threshold": 50}},
}

sys.path.insert(0, ROOT)

import pyarrow.dataset as ds  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import oracle  # noqa: E402
import phases  # noqa: E402
from procmon import TreeSampler, calibrate, dir_bytes  # noqa: E402


def driver_memory() -> str:
    """An eighth of the box's memory, between 2 and 4 GiB: the box is
    shared, and the workloads' corpora need far less."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(2, min(4, kib // (8 << 20)))}g"


def _atomic_dir(path: str, build) -> None:
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)


def prepare(name: str, seed: int) -> tuple[str, dict, list[tuple], float]:
    """(pages dir, truth, rows, seconds spent) for the workload corpus of
    ``seed``; the truth is the oracle summary (parity) or the planted
    duplicates and spam (scale)."""
    n = WORKLOADS[name]["pages"]
    kind = "parity" if name == "parity_crawl" else "scale"
    path = os.path.join(WORK, "cache", f"{kind}-{n}-s{seed}")
    t0 = time.time()

    def build(tmp):
        if kind == "parity":
            rows = corpus.write_parity_corpus(os.path.join(tmp, "pages"), n, seed)
            truth = oracle.expected([(r[0], r[2]) for r in rows])
        else:
            truth = corpus.write_scale_corpus(os.path.join(tmp, "pages"), n, seed)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)

    _atomic_dir(path, build)
    with open(os.path.join(path, "truth.json")) as f:
        truth = json.load(f)
    rows = ds.dataset(os.path.join(path, "pages")).to_table(
        columns=["url", "html"]).to_pylist()
    return os.path.join(path, "pages"), truth, [(r["url"], r["html"]) for r in rows], \
        time.time() - t0


# --- job process ---------------------------------------------------------------

def _session_procs(sid: int) -> list[tuple[int, bytes, int]]:
    """(pid, state, ppid) of every process of session ``sid``."""
    procs = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue
            # fields[0] is field 3 (state) of proc(5), fields[3] the session
            fields = raw[raw.rindex(b")") + 2:].split()
            if int(fields[3]) == sid:
                procs.append((int(name), fields[0], int(fields[1])))
    return procs


def _reap_session(sid: int) -> None:
    """Stop every process of the job's session and wait until all ended.
    The session, not the process group: ``pyspark.daemon`` moves itself
    and its workers into a process group of their own.  Orphans of the
    session are this process's children (see ``main``), so their exit
    status is collected here too; the session leader ``sid`` is left to
    its ``Popen``."""
    deadline = time.time() + 60
    me = os.getpid()
    while True:
        left = []
        for pid, state, ppid in _session_procs(sid):
            if state != b"Z":
                left.append(pid)
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            elif ppid == me and pid != sid:
                left.append(pid)
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
        if not left:
            return
        if time.time() > deadline:
            raise RuntimeError(f"job session {sid} left processes running: {left}")
        time.sleep(0.05)


def probe_slowdown() -> float:
    """The host-speed probe now, over the best probe seen in this
    checkout (kept in ``.perfbench/probe_best_ms``)."""
    ms = calibrate()
    path = os.path.join(WORK, "probe_best_ms")
    try:
        with open(path) as f:
            best = min(ms, float(f.read()))
    except (OSError, ValueError):
        best = ms
    with open(path, "w") as f:
        f.write(f"{best:.3f}")
    return ms / best


def run_job(spec: dict, run_dir: str, tag: str, deadline: float) -> tuple[dict, TreeSampler, float]:
    spec = {**spec, "result": os.path.join(run_dir, f"{tag}.result.json")}
    spec_path = os.path.join(run_dir, f"{tag}.spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["TMPDIR"] = spec["local_dir"]
    # shuffle partitions follow the master's core count, as get_session
    # sizes them when no override is set
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), spec_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            with TreeSampler(proc.pid, spec["local_dir"]) as sampler:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
    if code != 0:
        # the run dir is removed on exit, so carry the log's tail along
        with open(os.path.join(run_dir, f"{tag}.log"), errors="replace") as f:
            tail = "".join(f.readlines()[-40:])
        raise RuntimeError(f"job process {tag} failed (exit {code}):\n{tail}")
    with open(spec["result"]) as f:
        return json.load(f), sampler, t_spawn


# --- output checks ---------------------------------------------------------------

def read_table(path: str, cols: list[str]) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def output_triples(out_dir: str) -> list[tuple]:
    return read_table(os.path.join(out_dir, "triples"),
                      ["url", "subject", "predicate", "object", "inferred"])


def check_parity(out_dir: str, truth: dict) -> dict:
    got = set(output_triples(out_dir))
    want = set(truth["triple_hashes"])
    hit = sum(oracle.row_hash(r) in want for r in got)
    ents = read_table(os.path.join(out_dir, "entities"), ["entity", "mentions", "degree"])
    edges = read_table(os.path.join(out_dir, "edges"), ["src", "dst", "predicate", "inferred"])
    res = {
        "precision": hit / max(len(got), 1),
        "recall": hit / max(len(want), 1),
        "triples": list(oracle.digest(got)) == truth["triples"],
        "entities": list(oracle.digest(ents)) == truth["entities"],
        "edges": list(oracle.digest(edges)) == truth["edges"],
    }
    res["ok"] = res["triples"] and res["entities"] and res["edges"]
    return res


def code_hash() -> str:
    """Hash of the engine's sources (``kgspark/**.py``): output digests
    recorded by one version of the code are never compared with another."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, "kgspark")
    for d, subdirs, files in os.walk(base):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, base).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def check_scale(out_dir: str, truth: dict, cache_dir: str) -> dict:
    rows = output_triples(out_dir)
    urls = {r[0] for r in rows}
    dropped = [u for _w, losers in truth["dup_groups"] for u in losers]
    res = {
        "duplicates_gone": not any(u in urls for u in dropped),
        "winners_kept": all(w in urls for w, _l in truth["dup_groups"]),
        "spam_gone": not any(u in urls for u in truth["spam"]),
        "no_self_loops": all(r[1] != r[3] for r in rows),
    }
    count, dig = oracle.digest(set(rows))
    pin = os.path.join(cache_dir, f"output_digest-{code_hash()}.json")
    if os.path.exists(pin):
        with open(pin) as f:
            res["same_as_earlier_runs"] = json.load(f) == [count, dig]
    else:
        with open(pin, "w") as f:
            json.dump([count, dig], f)
        res["same_as_earlier_runs"] = True
    res["ok"] = all(res.values())
    res["digest"] = [count, dig]
    return res


def check(name: str, out_dir: str, truth: dict, pages: str) -> dict:
    if name == "parity_crawl":
        return check_parity(out_dir, truth)
    return check_scale(out_dir, truth, os.path.dirname(pages))


# --- modes ---------------------------------------------------------------------

def base_spec(name: str, pages: str, run_dir: str) -> dict:
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    return {"driver_memory": driver_memory(), "local_dir": local,
            "cfg": WORKLOADS[name]["cfg"], "pages": pages}


def end_to_end(name: str, seconds: float, pages: str, truth: dict,
               run_dir: str, deadline: float, record: dict) -> dict:
    jobs = []
    timed = 0.0
    while not jobs or timed < seconds:
        tag = f"job{len(jobs)}"
        out = os.path.join(run_dir, f"{tag}-out")
        spec = {**base_spec(name, pages, run_dir), "steps": [
            {"kind": "run", "master": MASTER, "out": out}]}
        slow = probe_slowdown()
        res, sampler, t_spawn = run_job(spec, run_dir, tag, deadline)
        (step,) = res["steps"]
        t0, t1 = step["t"]
        summ = step["out"]
        chk = check(name, out, truth, pages)
        job = {
            "job_s": t1 - t0,
            "setup_s": res["t_session"] - t_spawn,
            "pages": summ["pages"],
            "buckets": summ["buckets"],
            "failed_buckets": summ["buckets"] if not chk["ok"] else summ["failed_buckets"],
            "peak_rss_mb": sampler.peak_rss(t0, t1) / MIB,
            "local_dir_peak_mb": sampler.peak_local_dir(t0, t1) / MIB,
            "output_mb": dir_bytes(out) / MIB,
            "tree_cpu_s": sampler.tree_cpu(t0, t1),
            "contention": sampler.contention(t0, t1, slow),
            "check": chk,
            "summary": summ,
        }
        jobs.append(job)
        timed += job["job_s"]
        shutil.rmtree(out, ignore_errors=True)
        if time.time() + 1.5 * (time.time() - t_spawn) > deadline:
            break
    record["jobs"] = jobs

    def med(key):
        return statistics.median(j[key] for j in jobs)

    attempted = sum(j["buckets"] for j in jobs)
    failed = sum(j["failed_buckets"] for j in jobs)
    job_s = med("job_s")
    metrics = {
        "job_s": (job_s, "s"),
        "pages_per_s": (med("pages") / job_s, "pages/s"),
        "setup_s": (med("setup_s"), "s"),
        "output_mb": (med("output_mb"), "MiB"),
        "bucket_success_share": ((attempted - failed) / max(attempted, 1), "fraction"),
    }
    return {"correct": all(j["check"]["ok"] for j in jobs), "attempted": max(attempted, 1),
            "failed": failed, "metrics": metrics}


def _span(t: list[float]) -> float:
    return t[1] - t[0]


def traced(name: str, pages: str, truth: dict, rows: list[tuple],
           run_dir: str, deadline: float, record: dict) -> dict:
    metrics: dict[str, tuple[float, str]] = {}
    for k, v in oracle.kernel_layer(rows[:200]).items():
        unit = "us" if k.endswith("us_per_page") else (
            "pages/s" if k.endswith("pages_per_s") else "count")
        metrics[k] = (v, unit)
    phases.check_mirrors()
    log4 = os.path.join(run_dir, "eventlog")
    out4 = os.path.join(run_dir, "out")
    os.makedirs(log4)
    part = os.path.join(run_dir, "scaling-pages")
    os.makedirs(part)
    t = ds.dataset(pages).to_table()
    pq.write_table(t.take(list(range(0, t.num_rows, SCALING_STRIDE))),
                   os.path.join(part, "part-0.parquet"))
    # the local[4] phases run first, in the cold JVM, like an end-to-end
    # job, for the per-phase metrics; the scaling pair then runs warm in
    # the same JVM, local[1] and local[4], phase walls only (no event log,
    # no link counters, no sink)
    pair = {"kind": "traced", "out": os.path.join(run_dir, "pair-out"), "walls_only": True,
            "pages": part}
    spec = {**base_spec(name, pages, run_dir), "steps": [
        {"kind": "traced", "master": MASTER, "out": out4, "eventlog": log4},
        {**pair, "master": "local[1]"},
        {**pair, "master": MASTER},
    ]}
    slow = probe_slowdown()
    res, sampler, _t_spawn = run_job(spec, run_dir, "traced", deadline)
    cold4, warm1, warm4 = res["steps"]
    chk = check(name, out4, truth, pages)
    same = warm1["out"]["digest"] == warm4["out"]["digest"]
    t4 = cold4["out"]
    groups = phases.read_event_log(log4)
    for p in phases.PHASES:
        ph = t4.get(p)
        g = groups.get(p, phases.ZERO) if ph else phases.ZERO
        metrics.update({
            f"{p}.wall_s": (_span(ph["t"]) if ph else 0.0, "s"),
            f"{p}.task_cpu_s": (g["task_cpu_s"], "s"),
            f"{p}.gc_s": (g["gc_s"], "s"),
            f"{p}.shuffle_write_bytes": (g["shuffle_write_bytes"], "bytes"),
            f"{p}.shuffle_read_bytes": (g["shuffle_read_bytes"], "bytes"),
            f"{p}.spill_bytes": (g["spill_bytes"], "bytes"),
            f"{p}.peak_exec_mem_bytes": (g["peak_exec_mem_bytes"], "bytes"),
            f"{p}.task_skew": (g["task_skew"], "ratio"),
            f"{p}.jobs": (g["jobs"], "count"),
            f"{p}.rows_out": (ph["rows_out"] if ph else 0, "rows"),
        })
    link = t4.get("link", {})
    metrics.update({
        "extract.python_cpu_s": (sampler.python_cpu(*t4["extract"]["t"]), "s"),
        "dedup.pages_dropped": (t4.get("dedup", {}).get("pages_dropped", 0), "pages"),
        "gate.pages_dropped": (t4.get("gate", {}).get("pages_dropped", 0), "pages"),
        "link.entities": (link.get("entities", 0), "count"),
        "link.candidate_pairs": (link.get("candidate_pairs", 0), "count"),
        "link.verified_pairs": (link.get("verified_pairs", 0), "count"),
        "link.verify_yield": (link.get("verified_pairs", 0)
                              / max(link.get("candidate_pairs", 0), 1), "ratio"),
        "sink.merge_s": (t4["sink"]["merge_s"], "s"),
        "sink.files_written": (t4["sink"]["files_written"], "count"),
    })
    for k in ("jobs", "stages", "tasks"):
        metrics[f"spark.{k}"] = (sum(groups.get(p, phases.ZERO)[k] for p in t4), "count")
    metrics["spark.local_dir_peak_mb"] = (sampler.peak_local_dir(*cold4["t"]) / MIB, "MiB")
    metrics["spark.peak_rss_mb"] = (sampler.peak_rss(*cold4["t"]) / MIB, "MiB")
    cont = sampler.contention(cold4["t"][0], warm4["t"][1], slow)
    metrics["host.foreign_cores"] = (cont["foreign_cores"], "cores")
    metrics["host.steal_share"] = (cont["steal_share"], "fraction")
    metrics["host.probe_slowdown"] = (cont["probe_slowdown"], "ratio")
    w1 = {p: _span(v["t"]) for p, v in warm1["out"].items() if p != "digest"}
    w4 = {p: _span(v["t"]) for p, v in warm4["out"].items() if p != "digest"}
    metrics["scaling.eff_1to4"] = (sum(w1.values()) / (4 * sum(w4.values())), "ratio")
    for p in ("extract", "standardize", "infer", "gate", "link"):
        metrics[f"scaling.{p}.eff_1to4"] = (w1[p] / (4 * w4[p]) if p in w4 else 0.0, "ratio")
    metrics["trace.total_s"] = (sum(_span(v["t"]) for v in t4.values()), "s")
    record.update({"check": chk, "local1_equals_local4": same, "steps": res["steps"],
                   "event_log_groups": groups, "contention": cont,
                   "untraced_job_s": untraced_job_s(name)})
    ok = chk["ok"] and same
    return {"correct": ok, "attempted": 1, "failed": 0 if ok else 1, "metrics": metrics}


def untraced_job_s(name: str) -> list[float]:
    """``job_s`` of every uncontended end-to-end run of ``name`` recorded
    in this checkout at the workload's current corpus size: the untraced
    side of the tracing overhead."""
    out: list[float] = []
    results = os.path.join(WORK, "results")
    for f in os.listdir(results) if os.path.isdir(results) else ():
        if f.startswith(f"{name}-") and "-t0-" in f:
            with open(os.path.join(results, f)) as fh:
                rec = json.load(fh)
            if rec.get("pages") == WORKLOADS[name]["pages"]:
                out += [j["job_s"] for j in rec.get("jobs", [])
                        if not j["contention"]["contended"]]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its job processes (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # orphans of a job (its JVM, once the job's driver exits) become this
    # process's children, so they are reaped before it exits
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    pages, truth, rows, prep_s = prepare(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "pages": WORKLOADS[a.workload]["pages"], "cfg": WORKLOADS[a.workload]["cfg"],
              "input_and_oracle_s": prep_s}
    try:
        if a.trace:
            res = traced(a.workload, pages, truth, rows, run_dir, deadline, record)
        else:
            res = end_to_end(a.workload, a.seconds, pages, truth, run_dir,
                             deadline, record)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["result"] = res
    record["wall_s"] = time.time() - t_start
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for j in record.get("jobs", []):
        c = j["check"]
        extra = (f"P={c['precision']:.4f} R={c['recall']:.4f}" if "precision" in c
                 else " ".join(f"{k}={v}" for k, v in c.items() if k != "digest"))
        print(f"job: {j['job_s']:.2f} s, setup {j['setup_s']:.2f} s, "
              f"check ok={c['ok']} {extra}, contended={j['contention']['contended']} "
              f"(foreign {j['contention']['foreign_cores']} cores, "
              f"steal {j['contention']['steal_share']}, "
              f"probe {j['contention']['probe_slowdown']}x best)")
    if a.trace:
        total = res["metrics"]["trace.total_s"][0]
        base = record["untraced_job_s"]
        against = (f"tracing overhead {total - statistics.median(base):.2f} s against the "
                   f"median untraced job_s of {len(base)} uncontended end-to-end runs here"
                   if base else "no uncontended end-to-end run recorded here to compare")
        print(f"traced: total {total:.2f} s; {against}; "
              f"contended={record['contention']['contended']}")
    for k, (v, unit) in res["metrics"].items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
