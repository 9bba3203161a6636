"""Process accounting from /proc for the Spark JVM and its Python workers.

- Peak resident memory: ``VmHWM`` after writing ``5`` to
  ``/proc/<pid>/clear_refs`` (which resets the high-water mark) when
  timing starts. The reported peak is the sum of per-process peaks.
- Python worker CPU and bytes read: ``utime+stime+cutime+cstime`` and
  ``rchar`` summed over every process descended from the JVM (the
  pyspark daemon reaps its forked workers, so their totals land in its
  child counters and I/O accounting).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rfind(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(_stat_fields(int(d))[1])
            except (OSError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def reset_peak(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process ended


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def cpu_and_read(pids: list[int]) -> tuple[float, int]:
    """(CPU seconds incl. reaped children, bytes read) summed over pids."""
    cpu = 0.0
    rchar = 0
    for pid in pids:
        try:
            fields = _stat_fields(pid)
            cpu += sum(int(x) for x in fields[11:15]) / _TICK
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("rchar:"):
                        rchar += int(line.split()[1])
        except OSError:
            pass
    return cpu, rchar
