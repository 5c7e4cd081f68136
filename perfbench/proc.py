"""Process-tree accounting from /proc (Linux): the benchmark's Python driver,
its JVM and the JVM's Python workers form one tree under the worker process."""

from __future__ import annotations

import os


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU time of the tree, including reaped children (a
    Python worker forked and reaped by the PySpark daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / tick


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot, from /proc/stat.
    Steal is time the hypervisor ran something else while this VM's CPUs
    wanted to run; on a shared host it is one cause of wall-time noise."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
