"""Process-tree CPU and memory readings from /proc (no psutil).

The JVM is the `java` child of the benchmark's Python process. Python workers are
`pyspark.daemon` (a child of the JVM) and the workers it forks. A worker that
has exited and been reaped is folded into the daemon's cutime/cstime, so
reading the daemon's own and children's times plus every live worker's own
times counts all Python-worker CPU, past and present.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    l, r = s.index("("), s.rindex(")")
    return s[l + 1:r], s[r + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class ProcessTree:
    """The JVM and Python-worker processes under one Python process."""

    def __init__(self, parent_pid: int | None = None):
        self.parent_pid = parent_pid or os.getpid()
        self._jvm: int | None = None
        self._daemons: list[int] = []
        self._hwm_kb: dict[int, int] = {}
        self._lock = threading.Lock()

    def jvm_pid(self) -> int | None:
        if self._jvm is None:
            for c in _children(self.parent_pid):
                st = _stat(c)
                if st and st[0] == "java":
                    self._jvm = c
                    break
        return self._jvm

    def python_pids(self) -> tuple[list[int], list[int]]:
        """(daemon pids, live worker pids) under the JVM. The daemon lives as
        long as the JVM, so it is looked up (across every JVM thread) once."""
        jvm = self.jvm_pid()
        if jvm is not None and not self._daemons:
            self._daemons = [c for c in _children(jvm) if "pyspark.daemon" in _cmdline(c)]
        workers = [w for d in self._daemons for w in _children(d)]
        return self._daemons, workers

    def cpu_s(self) -> tuple[float, float]:
        """Cumulative (JVM, Python-worker) CPU seconds."""
        jvm = self.jvm_pid()
        jvm_ticks = 0
        if jvm is not None:
            st = _stat(jvm)
            if st:
                # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
                jvm_ticks = int(st[1][11]) + int(st[1][12])
        py_ticks = 0
        daemons, workers = self.python_pids()
        for d in daemons:
            st = _stat(d)
            if st:
                py_ticks += sum(int(x) for x in st[1][11:15])
        for w in workers:
            st = _stat(w)
            if st:
                py_ticks += int(st[1][11]) + int(st[1][12])
        return jvm_ticks / _TICK, py_ticks / _TICK

    def sample_memory(self) -> None:
        jvm = self.jvm_pid()
        daemons, workers = self.python_pids()
        pids = ([jvm] if jvm is not None else []) + daemons + workers
        with self._lock:
            for p in pids:
                kb = _hwm_kb(p)
                if kb > self._hwm_kb.get(p, 0):
                    self._hwm_kb[p] = kb

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of the JVM, and summed VmHWM of every Python worker seen so
        far, in MB."""
        self.sample_memory()
        with self._lock:
            jvm = self._hwm_kb.get(self._jvm, 0)
            return jvm / 1024.0, (sum(self._hwm_kb.values()) - jvm) / 1024.0


def host_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(fields[:8]), fields[7]


class MemorySampler:
    """Background thread that polls VmHWM so short-lived workers are seen."""

    def __init__(self, tree: ProcessTree, period_s: float = 0.5):
        self.tree = tree
        self.period_s = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="cdcbench-mem", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.tree.sample_memory()

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
