"""Resource use of a process tree, read from /proc (Linux only)."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields from field 3 (state) on, by pid."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    pids, frontier = {root}, [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        pids.update(kids)
        frontier.extend(kids)
    return pids


def tree_rss(root: int) -> int:
    """Summed resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(root, _stats()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


# HotSpot's JIT compiler threads (the kernel truncates thread names to
# 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the live JIT compiler threads of ``pid``."""
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
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        if name.startswith(_JIT_THREADS):
            ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    without the JVM's JIT compiler threads.

    Children that already exited and were reaped count through their
    parent's cutime/cstime. JIT compilation is the JVM warming up, not
    work of the operation being timed, and when it happens varies from
    run to run; it is left out (the JVM is started with a fixed set of
    compiler threads, so none exits and takes its time into the process
    total). Time the hypervisor steals from the virtual CPUs is not in
    these counters either.
    """
    stats = _stats()
    ticks = 0
    for pid in _tree(root, stats):
        fields = stats.get(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17
            ticks += sum(int(x) for x in fields[11:15]) - _jit_ticks(pid)
    return ticks / CLK_TCK


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU ticks between two readings that the
    hypervisor gave to other tenants (steal)."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0
