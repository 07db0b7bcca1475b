"""CPU time and resident memory of a process tree, read from ``/proc``.

The extraction work happens in three kinds of process: the Python
driver, the Spark JVM it launches, and the Python workers the JVM forks.
Figures for the driver alone would miss most of it, so every reading
here sums over the tree rooted at the benchmark's own process.

Memory is the proportional set size (PSS), in which a page shared by n
processes counts 1/n in each, so the sum over the tree counts it once.
Summed RSS would count shared pages in every sharer: a Python worker
forked from the worker daemon, and above all a child the JVM forks to run
a shell command (Hadoop's local file system does so), which until it
execs holds the whole JVM image and so doubles the sum for a moment.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children.

    Take the difference of two readings to get the CPU used between them.
    """
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def pss_bytes(pids: list[int]) -> dict[int, int]:
    """Proportional resident bytes of each of ``pids`` that is still
    alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PssSampler:
    """Samples the tree's summed PSS on a background thread and keeps the
    peak, with the MB of each process at the peak. The pid list is
    refreshed every ``refresh`` samples so that workers forked mid-run
    are counted. Reading a JVM's PSS walks its page tables (~20 ms for
    1.5 GB), hence the slow rate."""

    def __init__(self, root: int, interval: float = 0.25, refresh: int = 4):
        self._root = root
        self._interval = interval
        self._refresh = refresh
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0
        self.peak_procs: list[tuple[int, str, float]] = []
        self.samples = 0

    def _run(self) -> None:
        pids: list[int] = []
        while not self._stop.is_set():
            if self.samples % self._refresh == 0:
                pids = tree_pids(self._root)
            by_pid = pss_bytes(pids)
            total = sum(by_pid.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_procs = [(pid, _comm(pid), b / 2**20)
                                   for pid, b in by_pid.items()]
            self.samples += 1
            self._stop.wait(self._interval)

    def __enter__(self) -> "PssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


class HostFacts:
    """nproc, load average and the CPU-steal delta over an interval.

    Recorded with every run so a noisy run explains itself; never used to
    drop or retry a run."""

    def __init__(self):
        self._t0 = time.monotonic()
        self._steal0 = _steal_ticks()
        self.start = self._snapshot()

    @staticmethod
    def _snapshot() -> dict:
        return {"nproc": len(os.sched_getaffinity(0)),
                "loadavg": list(os.getloadavg())}

    def finish(self) -> dict:
        elapsed = time.monotonic() - self._t0
        steal_s = (_steal_ticks() - self._steal0) / _TICK
        return {"start": self.start, "end": self._snapshot(),
                "elapsed_s": elapsed, "steal_s": steal_s}
