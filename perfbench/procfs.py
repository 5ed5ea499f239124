"""CPU time of a process tree, read from /proc (Linux)."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, include_root: bool = True) -> float:
    """CPU seconds (user + system) used so far by the descendants of
    `root`, and by `root` itself with `include_root`. Descendants that
    exited and were reaped count through their parent's child times.
    Time the hypervisor stole from the machine is not CPU time, so this
    figure moves with the work done, not with neighbours' load."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    total = procs.get(root, (0, 0))[1] if include_root else 0
    frontier = {root}
    while frontier:
        frontier = {pid for pid, (ppid, _) in procs.items() if ppid in frontier}
        total += sum(procs[pid][1] for pid in frontier)
    return total / _TICKS


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM `pid`.
    They only stay listed, and so counted, for the JVM's life when it runs
    with -XX:-UseDynamicNumberOfCompilerThreads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listed
            continue
        name, fields = stat.rsplit(")", 1)
        if "CompilerThre" in name:
            total += sum(int(x) for x in fields.split()[11:13])
    return total / _TICKS
