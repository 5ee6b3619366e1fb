"""Process-tree CPU and memory readers over /proc (Linux only).

The benchmark's process tree is the driver Python process, the JVM it
launches, and the PySpark daemon with its forked Python workers.  CPU time
of a process that has exited and been reaped is no longer in its own
/proc entry: the kernel moves it into its parent's ``cutime``/``cstime``.
Summing ``utime + stime + cutime + cstime`` over the live processes of the
tree therefore counts every process that ever ran in it exactly once,
including Python workers the daemon has already reaped.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, list[int]] | None:
    """(ppid, comm, [utime, stime, cutime, cstime]) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; it ends at the last ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), comm, [int(v) for v in rest[11:15]]


def tree(root: int) -> dict[int, tuple[str, list[int]]]:
    """Every live process under (and including) ``root``: pid -> (comm, times)."""
    info, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        info[int(name)] = st
        children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = (info[pid][1], info[pid][2])
            todo.extend(children.get(pid, ()))
    return out


def role(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    return "pyworkers"


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds (user + sys, reaped children included) by role and total."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    for pid, (comm, times) in tree(root).items():
        out[role(pid, root, comm)] += sum(times) / CLK_TCK
    out["total"] = sum(out.values())
    return out


def rss_bytes(roles: dict[int, str]) -> dict[str, int]:
    """Resident set size of the given processes (pid -> role), summed by role
    and in total; processes that are gone count 0."""
    out = {"driver": 0, "jvm": 0, "pyworkers": 0}
    for pid, r in roles.items():
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[r] += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    out["total"] = sum(out.values())
    return out
