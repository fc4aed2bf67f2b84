"""CPU and RSS of the server process tree, sampled from ``/proc``.

The tree is the server process and its descendants. Each process falls in one
class: ``driver_py`` (the server's own Python process), ``jvm`` (the
Spark JVM) or ``pyworker`` (pyspark daemon and workers). CPU is the
user+system time each process gained while sampling ran. Memory is
the per-sample sum of proportional set sizes (see ``_pss_bytes``),
and the peak is kept.
"""

from __future__ import annotations

import os
import resource

from server import proc_table, tree_pids

_TICK = os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split between the processes sharing it, so forked pyspark workers
    do not count their parent's pages again."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class TreeSampler:
    def __init__(self, server_pid: int):
        self.server_pid = server_pid
        self.first: dict[int, int] = {}
        self.last: dict[int, int] = {}
        self.kind: dict[int, str] = {}
        self.peak_rss = {"total": 0, "jvm": 0, "driver_py": 0, "pyworker": 0}
        self.samples = 0
        self._self_cpu0 = self._self_cpu()

    @staticmethod
    def _self_cpu() -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime

    def _classify(self, pid: int, comm: str) -> str:
        if pid == self.server_pid:
            return "driver_py"
        return "jvm" if comm == "java" else "pyworker"

    def sample(self) -> None:
        rss = {"total": 0, "jvm": 0, "driver_py": 0, "pyworker": 0}
        table = proc_table()
        for pid in tree_pids(self.server_pid, table):
            comm, _ppid, fields = table[pid]
            # fields after the comm: state ppid pgrp session tty_nr tpgid
            # flags minflt cminflt majflt cmajflt utime stime ...
            ticks = int(fields[11]) + int(fields[12])
            try:
                nbytes = _pss_bytes(pid)
            except OSError:
                continue
            kind = self.kind.setdefault(pid, self._classify(pid, comm))
            # a process born after sampling began counts from zero
            self.first.setdefault(pid, ticks if self.samples == 0 else 0)
            self.last[pid] = ticks
            rss[kind] += nbytes
            rss["total"] += nbytes
        for k, v in rss.items():
            self.peak_rss[k] = max(self.peak_rss[k], v)
        self.samples += 1

    def cpu_s(self, kind: str) -> float:
        return sum(
            (self.last[p] - self.first[p]) / _TICK for p in self.last if self.kind[p] == kind
        )

    def loadgen_cpu_s(self) -> float:
        return self._self_cpu() - self._self_cpu0

    def peak_mb(self, kind: str = "total") -> float:
        return self.peak_rss[kind] / (1 << 20)
