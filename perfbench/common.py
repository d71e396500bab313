"""Shared pieces of the benchmark: run context, statistics, memory and
environment probes."""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
from dataclasses import dataclass, field

# Percentiles the tail is chosen from, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Run:
    """What one workload run hands back to ``run.py``."""

    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    named: dict[str, dict] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def name(self, metric: str, value: float, unit: str, **base) -> None:
        """Record a workload-specific metric under its own name, with its
        unit and, for percentiles and ratios, their base."""
        self.named[metric] = {"value": value, "unit": unit, **base}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:300])


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``xs``."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest ladder percentile with at least ten samples beyond it
    (the median when fewer than twenty samples exist)."""
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0


def latency_summary(xs: list[float], tail_q: float) -> dict:
    """Median and the fixed tail percentile ``tail_q`` of ``xs``, with
    the sample count and how many samples lie beyond the tail."""
    tail = percentile(xs, tail_q)
    return {
        "n": len(xs),
        "p50_s": statistics.median(xs),
        "tail_q": tail_q,
        "tail_s": tail,
        "beyond_tail": sum(1 for x in xs if x > tail),
        "ladder_q": tail_percentile(len(xs)),
    }


def ratio(num: float, den: float) -> dict:
    return {"value": num / den if den else None, "num": num, "den": den}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM, in MB
    (sum of the two processes' high-water marks)."""
    total = _hwm_kb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += _hwm_kb(proc.pid)
    return total / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except OSError:
                pass
    return total


def environment(spark, sf: float, seed: int) -> dict:
    return {
        "cores": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "spark_version": spark.version,
        "sf": sf,
        "seed": seed,
        "loadavg_1m": os.getloadavg()[0],
    }


def _tree_ticks(pid: int) -> int:
    """User + system clock ticks of ``pid`` and of its ended children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11:15] are utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15])


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it: the JVM, and the Python workers it starts."""
    me = os.getpid()
    ticks = sum(_tree_ticks(p) for p in [me] + _descendants(me, zombies=True))
    return ticks / os.sysconf("SC_CLK_TCK")


class Clock:
    """The measured window: its length in seconds, and the wall and CPU
    time it took (``stop``)."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.cpu0 = cpu_s()
        self.start = time.perf_counter()
        self.wall = self.cpu = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self.start

    def stop(self) -> None:
        """End the window: record its wall and CPU seconds."""
        self.wall = self.elapsed()
        self.cpu = cpu_s() - self.cpu0


def dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


# ------------------------------------------------------------ processes
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 20.0  # wait this long, then SIGTERM; after twice as long, SIGKILL
STOP_LIMIT_S = 60.0


def adopt_orphans() -> None:
    """Make this process the parent of every orphan among the processes
    it starts (Linux), so a grandchild outliving its parent, such as a
    Python worker of the Spark JVM, is still found and waited for by
    ``stop_children``."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return  # not Linux: orphans go to init and only children are waited for
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants(pid: int, zombies: bool = False) -> list[int]:
    """Processes below ``pid``, from ``/proc``; ended ones that wait to
    be reaped (zombies) only if asked."""
    kids: dict[int, list[tuple[int, bool]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        kids.setdefault(int(ppid), []).append((int(d), state == "Z"))
    out, todo = [], [pid]
    while todo:
        for child, zombie in kids.get(todo.pop(), ()):
            todo.append(child)
            if zombies or not zombie:
                out.append(child)
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children() -> list[int]:
    """Wait until every process started under this one has ended: first
    on its own, then after SIGTERM, then after SIGKILL. Returns the pids
    that had to be signalled."""
    t0 = time.monotonic()
    signalled: set[int] = set()
    while True:
        _reap()
        live = _descendants(os.getpid())
        waited = time.monotonic() - t0
        if not live or waited > STOP_LIMIT_S:
            return sorted(signalled)
        if waited > STOP_GRACE_S:
            sig = signal.SIGKILL if waited > 2 * STOP_GRACE_S else signal.SIGTERM
            for pid in live:
                try:
                    os.kill(pid, sig)
                    signalled.add(pid)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
