"""Per-process-tree CPU, memory and machine contention read from /proc.

CPU is read per process tree, never from machine-wide /proc/stat, so the
benchmark's own oracle work and other tenants of the machine do not count.
A process's ``cutime``/``cstime`` hold the CPU of children it has reaped, so
summing utime+stime+cutime+cstime over the live tree keeps the CPU of Python
workers that exited during a measured interval.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    r = s.rfind(")")
    return s[s.find("(") + 1 : r], s[r + 2 :].split()


def processes() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(f"/proc/{name}/stat")
        if st is None:
            continue
        comm, f = st
        cpu = sum(int(x) for x in f[11:15]) / CLK_TCK
        out[int(name)] = (int(f[1]), comm, cpu)
    return out


def descendants(root: int, procs=None) -> list[int]:
    """``root`` and every live process below it."""
    procs = processes() if procs is None else procs
    kids = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        kids[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def find_jvm(root: int) -> int:
    """The Spark driver JVM started below ``root`` (the benchmark process)."""
    procs = processes()
    jvms = [p for p in descendants(root, procs) if procs[p][1] == "java"]
    if len(jvms) != 1:
        raise RuntimeError(f"expected one JVM below pid {root}, found {jvms}")
    return jvms[0]


def tree_cpu(jvm: int) -> dict[str, float]:
    """CPU seconds of the JVM and of its Python workers (every descendant)."""
    procs = processes()
    tree = descendants(jvm, procs)
    py = sum(procs[p][2] for p in tree if p != jvm)
    jvm_cpu = procs[jvm][2] if jvm in procs else 0.0
    # the JVM's cutime already includes reaped Python daemons; keep the
    # split exact by moving that share out of the JVM's own figure
    st = _stat_fields(f"/proc/{jvm}/stat")
    reaped = sum(int(x) for x in st[1][13:15]) / CLK_TCK if st else 0.0
    return {
        "total": jvm_cpu + py,
        "jvm": jvm_cpu - reaped,
        "python": py + reaped,
    }


_THREAD_CLASSES = [
    ("jvm.jit", re.compile(r"^C\d CompilerThre")),
    ("jvm.gc", re.compile(r"^(GC Thread|G1 |VM Thread)")),
    ("jvm.tasks", re.compile(r"^Executor task l")),
    # py4j command threads run the driver side of every call (planning,
    # code generation, commit); AQE stage materialization and the DAG
    # scheduler are driver work too
    ("jvm.driver", re.compile(r"^(Thread-\d|shuffle-exchang|ResultQueryStag|dag-scheduler)")),
]


def _thread_class(comm: str) -> str:
    for cls, rx in _THREAD_CLASSES:
        if rx.match(comm):
            return cls
    return "jvm.other"


class ThreadSampler:
    """CPU of the JVM's threads over an interval, by thread class.

    Polls /proc/<jvm>/task every ``period`` seconds from a background
    thread, so threads that start and exit inside the interval (the
    per-task threads that feed Python workers) are counted up to their last
    poll instead of vanishing with their /proc entry."""

    def __init__(self, jvm: int, period: float = 0.1):
        import threading

        self.jvm = jvm
        self.period = period
        self.base: dict[str, float] = {}
        self.last: dict[str, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> dict[str, tuple[str, float]]:
        out = {}
        try:
            tids = os.listdir(f"/proc/{self.jvm}/task")
        except OSError:
            return out
        for tid in tids:
            st = _stat_fields(f"/proc/{self.jvm}/task/{tid}/stat")
            if st is not None:
                out[tid] = (st[0], (int(st[1][11]) + int(st[1][12])) / CLK_TCK)
        return out

    def _run(self):
        while not self._stop.wait(self.period):
            self.last.update(self._poll())

    def __enter__(self):
        first = self._poll()
        self.base = {tid: cpu for tid, (_, cpu) in first.items()}
        self.last = dict(first)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.last.update(self._poll())
        return False

    def by_class(self) -> dict[str, float]:
        out = defaultdict(float)
        for tid, (comm, cpu) in self.last.items():
            out[_thread_class(comm)] += cpu - self.base.get(tid, 0.0)
        return dict(out)

    def by_name(self) -> dict[str, float]:
        """CPU per thread name with digits folded (for the span file)."""
        out = defaultdict(float)
        for tid, (comm, cpu) in self.last.items():
            out[re.sub(r"\d+", "#", comm)] += cpu - self.base.get(tid, 0.0)
        return dict(out)


def python_worker_hwm_mb(jvm: int) -> float:
    """Largest VmHWM (peak resident set) of any Python worker below the JVM."""
    procs = processes()
    best = 0
    for p in descendants(jvm, procs):
        if p == jvm or not procs[p][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


def steal_core_s() -> float:
    """Machine-wide hypervisor steal, core-seconds (contention indicator)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def calibration_s() -> float:
    """Seconds a fixed single-threaded Python loop takes.  The machine's
    speed drifts by tens of percent between minutes with no steal
    recorded (busy neighbours on shared cores); this loop slows with it,
    so the run record can tell a slow window from a slower program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFF
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
