"""Out-of-process sampler over a process tree, reading ``/proc``.

A :class:`TreeSampler` thread polls the tree rooted at one pid (the job
process: its Python driver, the Spark JVM and the PySpark workers) and
keeps timestamped samples of:

* the tree's resident set size;
* CPU seconds of the PySpark worker processes (``pyspark.daemon`` and the
  workers it forks; reaped workers count through the daemon's child time);
* CPU seconds of the whole tree;
* the host's busy and steal CPU seconds (``/proc/stat``);
* bytes under the Spark local dir (every ``DIR_EVERY``-th sample).

Windows over the samples give peak RSS, Python CPU per phase, and a
contention verdict: a window is contended when other processes used more
than ``FOREIGN_CORES_MAX`` cores on average, the hypervisor stole more
than ``STEAL_SHARE_MAX`` of the CPU time, or the host-speed probe
(:func:`calibrate`, taken before the job) ran more than ``SLOW_PROBE_MAX``
times slower than the best probe seen so far.  Noisy neighbours have
slowed this VM twice over with under 0.5% steal showing, hence the probe.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
FOREIGN_CORES_MAX = 0.5
STEAL_SHARE_MAX = 0.005
SLOW_PROBE_MAX = 1.15
INTERVAL_S = 0.05
DIR_EVERY = 10               # walk the local dir every 10th sample


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own cpu s, reaped children cpu s, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, reaped, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def host_cpu() -> tuple[float, float, float]:
    """(busy s, steal s, total s) summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return (total - idle - steal) / _TICK, steal / _TICK, total / _TICK


def calibrate() -> float:
    """Milliseconds a fixed single-threaded pure-Python loop takes, best
    of three: a host-speed probe."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def dir_bytes(path: str) -> int:
    total = 0
    stack = [path]
    while stack:
        try:
            with os.scandir(stack.pop()) as it:
                for e in it:
                    try:
                        if e.is_dir(follow_symlinks=False):
                            stack.append(e.path)
                        elif e.is_file(follow_symlinks=False):
                            total += e.stat(follow_symlinks=False).st_size
                    except OSError:
                        pass
        except OSError:
            pass
    return total


class TreeSampler:
    """Samples the process tree under ``root_pid`` while in a ``with``
    block."""

    def __init__(self, root_pid: int, local_dir: str):
        self.root = root_pid
        self.local_dir = local_dir
        # (t, rss, py_cpu, tree_cpu, host_busy, host_steal, host_total)
        self.samples: list[tuple[float, ...]] = []
        self.dir_samples: list[tuple[float, int]] = []
        self._is_worker: dict[int, bool] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _worker(self, pid: int) -> bool:
        if pid not in self._is_worker:
            self._is_worker[pid] = b"pyspark.daemon" in _cmdline(pid) \
                or b"pyspark.worker" in _cmdline(pid)
        return self._is_worker[pid]

    def sample(self) -> None:
        t = time.time()
        stats = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
                    children.setdefault(st[0], []).append(int(name))
        rss = py = tree = 0.0
        stack = [self.root] if self.root in stats else []
        while stack:
            pid = stack.pop()
            _ppid, own, reaped, r = stats[pid]
            rss += r
            tree += own + reaped
            if self._worker(pid):
                # a forked worker's reaped time is in its daemon's
                # ``reaped`` only, never in its own, so no double count
                py += own + (reaped if not self._worker(_ppid) else 0.0)
            stack.extend(children.get(pid, ()))
        busy, steal, total = host_cpu()
        self.samples.append((t, rss, py, tree, busy, steal, total))
        if len(self.samples) % DIR_EVERY == 1:
            self.dir_samples.append((t, dir_bytes(self.local_dir)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(INTERVAL_S)

    # --- windows -------------------------------------------------------------

    def _window(self, t0: float, t1: float) -> list[tuple[float, ...]]:
        inside = [s for s in self.samples if t0 <= s[0] <= t1]
        before = [s for s in self.samples if s[0] < t0][-1:]
        after = [s for s in self.samples if s[0] > t1][:1]
        return before + inside + after

    def peak_rss(self, t0: float, t1: float) -> float:
        w = [s for s in self.samples if t0 <= s[0] <= t1] or self._window(t0, t1)
        return max((s[1] for s in w), default=0.0)

    def _delta(self, t0: float, t1: float, col: int) -> float:
        w = self._window(t0, t1)
        return max(0.0, w[-1][col] - w[0][col]) if len(w) > 1 else 0.0

    def python_cpu(self, t0: float, t1: float) -> float:
        return self._delta(t0, t1, 2)

    def tree_cpu(self, t0: float, t1: float) -> float:
        return self._delta(t0, t1, 3)

    def peak_local_dir(self, t0: float, t1: float) -> int:
        return max((b for t, b in self.dir_samples if t0 <= t <= t1), default=0)

    def contention(self, t0: float, t1: float, probe_slowdown: float) -> dict:
        """Foreign CPU (host busy minus this tree) in cores and steal
        share over [t0, t1], and the verdict with the probe's slowdown."""
        w = self._window(t0, t1)
        a, b = w[0], w[-1]
        span = max(b[0] - a[0], 1e-9)
        foreign = max(0.0, (b[4] - a[4]) - (b[3] - a[3])) / span
        steal = (b[5] - a[5]) / max(b[6] - a[6], 1e-9)
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "foreign_cores": round(foreign, 3),
            "steal_share": round(steal, 4),
            "load1": load1,
            "probe_slowdown": round(probe_slowdown, 3),
            "contended": foreign > FOREIGN_CORES_MAX or steal > STEAL_SHARE_MAX
            or probe_slowdown > SLOW_PROBE_MAX,
        }
