"""CPU and resident memory of the benchmark's process tree, and host load,
read from /proc.

The tree is this Python driver, the Spark JVM it launched, and the Python
workers the JVM forks.  CPU of a process that already exited counts through
its parent's cutime/cstime once the parent has reaped it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
# every PeakRss started in this process: their threads' CPU is benchmark
# overhead, not the program's, and cpu_seconds takes it off the driver
_SAMPLERS: list["PeakRss"] = []


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree(root: int | None = None) -> dict[str, list[int]]:
    """{'driver': [root], 'jvm': [...], 'py': [...]} for the live tree."""
    root = root or os.getpid()
    out: dict[str, list[int]] = {"driver": [root], "jvm": [], "py": []}
    stack = [(c, False) for c in _children(root)]
    while stack:
        pid, under_jvm = stack.pop()
        is_jvm = _comm(pid) == "java"
        if is_jvm:
            out["jvm"].append(pid)
        elif under_jvm:
            out["py"].append(pid)
        stack.extend((c, under_jvm or is_jvm) for c in _children(pid))
    return out


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds of the tree, split driver / jvm / py.

    The JVM counts only its own threads (utime+stime); its reaped children
    are Python workers and are counted under 'py' through the live pids'
    cutime/cstime.  Shell wrappers between the driver and the JVM count
    nothing, and neither does the PeakRss sampler thread."""
    root = root or os.getpid()
    t = tree(root)
    out = {}
    for kind, pids in t.items():
        total = 0
        for pid in pids:
            f = _stat(pid)
            if f is None:
                continue
            # fields 14-17 of /proc/pid/stat; f[0] is field 3
            utime, stime, cutime, cstime = (int(x) for x in f[11:15])
            total += utime + stime + (0 if kind == "jvm" else cutime + cstime)
        out[kind] = total / _TICK
    if root == os.getpid():
        out["driver"] -= sum(s.cpu_s for s in _SAMPLERS)
    return out


def pss_mb(pids: list[int]) -> float:
    """Proportional set size: forked Python workers share pages with the
    daemon they fork from, and RSS would count those pages once per worker."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) / 1024
                        break
        except OSError:  # the process ended between listing and reading
            pass
    return total


class PeakRss:
    """Samples the resident memory (PSS) of the JVM plus its Python workers
    on a thread, and keeps that thread's own CPU seconds in cpu_s."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t = tree()
            split = {kind: pss_mb(t[kind]) for kind in ("jvm", "py")}
            if sum(split.values()) > self.peak_mb:
                self.peak_mb, self.at_peak = sum(split.values()), split
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        _SAMPLERS.append(self)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests, summed over this
    guest's CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_load() -> dict:
    """Load average, CPU pressure and the host's cumulative CPU steal, to
    tell a noisy run from host load."""
    out: dict = {"steal_s": steal_s()}
    with open("/proc/loadavg") as f:
        out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()[1:]
        out["cpu_pressure_some"] = {k: float(v) for k, v in (kv.split("=") for kv in some[:3])}
    except OSError:  # kernels without PSI
        out["cpu_pressure_some"] = None
    return out
