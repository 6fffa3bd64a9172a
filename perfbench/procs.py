"""Process and host accounting from /proc: CPU time of the benchmark's
process tree, peak resident memory of the driver and its JVM, and the
host's CPU steal."""

from __future__ import annotations

import os
import threading


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks incl. reaped children) of every visible
    process."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        # fields[1] = ppid; [11:15] = utime, stime, cutime, cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # thread names "C1 CompilerThread0", "C2 CompilerThread1", ...
        if stat[stat.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat[stat.rfind(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """(all, JIT compilation) CPU seconds used so far by this process and
    all its descendants (the Spark JVM and its Python workers), reaped
    children included. Unlike wall time, this does not grow when the host
    takes CPU away."""
    procs = proc_table()
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier and p not in tree}
    hz = os.sysconf("SC_CLK_TCK")
    total = sum(procs[p][1] for p in tree if p in procs)
    return total / hz, sum(_jit_ticks(p) for p in tree) / hz


class RssSampler:
    """Peak resident memory of this process plus its direct children (the
    Spark JVM; the JVM's Python workers are its children, not ours),
    sampled every 50 ms. The process list is re-read once a second, as a
    full /proc walk every sample would cost more CPU than the sampling."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            return 0

    def _run(self) -> None:
        me, page = os.getpid(), os.sysconf("SC_PAGE_SIZE")
        n, pids = 0, [me]
        while not self._stop.wait(0.05):
            if n % 20 == 0:
                pids = [p for p, (pp, _) in proc_table().items() if p == me or pp == me]
            n += 1
            self.peak = max(self.peak, page * sum(self._rss(p) for p in pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of this host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0
