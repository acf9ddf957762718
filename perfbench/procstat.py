"""CPU time and peak resident memory of this process's tree, and the
box's CPU steal, from /proc.

The tree is the benchmark's Python process, the Spark JVM it launched and
the JVM's Python workers.  CPU is utime+stime+cutime+cstime summed over
the live tree, so workers that exited and were reaped still count.  The
peak is the sum of each live process's VmHWM; ``reset_peak`` rewinds
every high-water mark to the current RSS (``clear_refs`` value 5).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak() -> None:
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # process already gone


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def box_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs: time the hypervisor gave this
    box's virtual CPUs to other guests, out of all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
