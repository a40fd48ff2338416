"""Readings of the run's footprint: process-tree CPU time and peak RSS
from /proc, load and steal, and bytes on disk.

The benchmark process starts the JVM, which starts the Python workers, so
the tree rooted at this process holds every process the workload runs on.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        f = _stat_fields(int(p.name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(p.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def _cpu(pid: int) -> float:
    """utime + stime of the process plus those of its reaped children, so
    CPU of Python workers that already exited is still counted."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu_s(pids: list[int] | None = None) -> float:
    return sum(_cpu(p) for p in (pids or tree_pids()))


def python_worker_cpu_s(pids: list[int] | None = None) -> float:
    return sum(_cpu(p) for p in (pids or tree_pids())
               if "pyspark.daemon" in _cmdline(p) or "pyspark.worker" in _cmdline(p))


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total = 0
    for p in pids or tree_pids():
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def steal_ticks() -> int:
    """Cumulative steal time of all CPUs (the 8th field of the cpu line)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def box_snapshot() -> dict:
    return {"loadavg_1m": round(loadavg_1m(), 2), "steal_ticks": steal_ticks()}


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
