"""The processes of one run, read from ``/proc``: this Python process,
the driver JVM it launches and the JVM's Python workers."""

from __future__ import annotations

import os

# the JVM's JIT compiler threads compile in the background, at a pace the
# host's load sets; their time is not the program's work
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a ``/proc`` stat file."""
    with open(path) as fh:
        head, _, tail = fh.read().rpartition(")")
    return head.partition("(")[2], tail.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat(f"/proc/{entry}/stat")[1][1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes of this process, the driver JVM
    and the Python workers (each process's own high-water mark)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class CpuMeter:
    """CPU seconds used so far by this process and every process it
    started (children that have exited and were reaped included), less
    the JVM's JIT compiler threads.

    CPU time, unlike wall time, does not grow while the host runs other
    tenants' work instead of this run's, so it is the steadier figure on
    a shared machine. The JVM is launched with a fixed set of compiler
    threads, so the threads found on the first call are all there are.
    """

    def __init__(self):
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jit: dict[int, list[str]] = {}  # pid -> compiler thread ids

    def _jit_threads(self, pid: int) -> list[str]:
        if pid not in self._jit:
            tids = []
            for tid in os.listdir(f"/proc/{pid}/task"):
                if _stat(f"/proc/{pid}/task/{tid}/stat")[0] in JIT_THREADS:
                    tids.append(tid)
            self._jit[pid] = tids
        return self._jit[pid]

    def __call__(self) -> float:
        return self.read()[0]

    def read(self) -> tuple[float, float]:
        """(program CPU seconds, JIT compiler CPU seconds) so far."""
        ticks = jit = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[1][11:15])
                for tid in self._jit_threads(pid):
                    f = _stat(f"/proc/{pid}/task/{tid}/stat")[1]
                    jit += int(f[11]) + int(f[12])
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
        return (ticks - jit) / self._tick, jit / self._tick
