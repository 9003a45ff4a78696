"""CPU time and resident memory of this process and all its descendants,
read from /proc (the driver JVM and the Python workers it forks are
children of this process)."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start past ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (cutime/cstime), so a worker that exits inside a window still counts."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields after comm: utime stime cutime cstime are 11 to 14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live processes of the tree of each one's peak resident
    size (VmHWM). Reading peaks instead of sampling current sizes costs
    nothing while the benchmark runs, and never counts a JVM twice when it
    briefly forks to launch a worker."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1e3
