"""Machine conditions and process CPU, read from ``/proc``.

A run records the CPU steal and idle shares of the timed phase, the
load average and ``nproc`` beside its metrics, so a run slowed by a
noisy neighbour can be told apart from a regression (see README).
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` in clock ticks:
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and idle as percent of all CPU ticks between two readings,
    and ``granted``: the share of the CPU time this machine wanted
    (busy or stolen ticks) that the hypervisor gave it."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return {"steal_pct": 100.0 * d[7] / total, "idle_pct": 100.0 * idle / total,
            "granted": 1.0 - d[7] / max(1, total - idle)}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the service's JVM is one)."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of the given processes, in seconds."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


#: thread names (``comm``, 15 characters) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks(pids: list[int]) -> dict[tuple[str, str], int]:
    """utime+stime in clock ticks of each JIT compiler thread of the
    given processes, by (pid, tid). Their work is a warm-up transient:
    it falls from most of the JVM's CPU in the first seconds towards
    none. The JVM starts and ends compiler threads as it needs them."""
    out = {}
    for p in pids:
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_THREADS):
                fields = stat.rsplit(")", 1)[1].split()
                out[(str(p), t)] = int(fields[11]) + int(fields[12])
    return out


def jit_seconds_since(before: dict[tuple[str, str], int], pids: list[int]) -> float:
    """JIT compiler CPU since ``before`` (a :func:`jit_ticks` reading),
    in seconds, over the threads alive now. A thread that ended in
    between takes its share with it, so this can undercount, never go
    below zero."""
    now = jit_ticks(pids)
    return sum(v - before.get(k, 0) for k, v in now.items()) / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Window:
    """Steal/idle of the whole machine and CPU of a process set over
    one timed phase: ``cpu_s`` without the JIT compiler threads, and
    ``jit_cpu_s`` of those threads."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self._stat0 = cpu_times()
        self._cpu0, self._jit0 = cpu_seconds(pids), jit_ticks(pids)

    def close(self) -> dict:
        shares = cpu_shares(self._stat0, cpu_times())
        jit = jit_seconds_since(self._jit0, self.pids)
        return {**shares, "cpu_s": cpu_seconds(self.pids) - self._cpu0 - jit,
                "jit_cpu_s": jit, "loadavg": loadavg(), "nproc": nproc()}
