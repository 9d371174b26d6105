"""CPU and host readings from /proc, for a process and everything under it.

CPU is ``utime + stime + cutime + cstime`` of every live process in the
tree rooted at one pid: a reaped child's CPU is already folded into its
parent's ``cutime``/``cstime``, so summing live processes counts each tick
once.  Linux reports these fields in clock ticks (``SC_CLK_TCK``, usually
100 per second).
"""

from __future__ import annotations

import os
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split on the last ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    return raw[lpar + 1:rpar], rest


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", "rb") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


class TreeSampler:
    """Samples the CPU of the tree under ``root`` and splits it by kind.

    Kinds: ``driver`` (the root Python process itself), ``jvm`` (java
    processes) and ``worker`` (every other descendant: the PySpark daemon
    and its Python workers, plus launcher shells).  The sampler charges its
    own cost to ``own_cpu_s`` so a reader can tell it apart.
    """

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self.samples = 0
        self.own_cpu_s = 0.0
        self._pids: list[int] = [self.root]

    def _walk(self) -> list[int]:
        seen, stack = [], [self.root]
        while stack:
            pid = stack.pop()
            seen.append(pid)
            stack.extend(_children(pid))
        return seen

    def sample(self) -> dict[str, float]:
        """Tree CPU seconds by kind at this instant (monotone per kind
        while the tree lives)."""
        t0 = time.process_time()
        # JVM threads are many, so walking every task's children file is
        # the dominant cost: the walk is refreshed every 8th sample and
        # whenever a known pid has vanished.
        if self.samples % 8 == 0:
            self._pids = self._walk()
        out = self._sum()
        if out is None:
            self._pids = self._walk()
            out = self._sum(skip_gone=True)
        self.samples += 1
        self.own_cpu_s += time.process_time() - t0
        return out

    def _sum(self, skip_gone: bool = False) -> dict[str, float] | None:
        out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        for pid in self._pids:
            st = _read_stat(pid)
            if st is None:
                if skip_gone:
                    continue
                return None
            comm, rest = st
            ticks = sum(int(x) for x in rest[11:15])
            kind = ("driver" if pid == self.root
                    else "jvm" if comm == "java" else "worker")
            out[kind] += ticks * TICK_S
        return out

    def total(self) -> float:
        return sum(self.sample().values())

    def pids_of(self, comm: str) -> list[int]:
        return [p for p in self._walk()
                if (_read_stat(p) or ("",))[0] == comm]


def host_ticks() -> dict[str, int]:
    """Host-wide steal and iowait ticks from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return {"iowait": int(cpu[5]), "steal": int(cpu[8]),
            "total": sum(int(x) for x in cpu[1:9])}


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process in MiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
