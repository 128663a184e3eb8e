"""Process-tree figures from /proc: the benchmark worker (Python
driver), its JVM and the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def _processes() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(children by parent pid, command name by pid)."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        comm[int(name)] = st[0]
        kids.setdefault(int(st[1][1]), []).append(int(name))
    return kids, comm


def tree(pid: int) -> list[int]:
    """The process and its long-lived descendants. Short-lived helpers the
    JVM spawns (``chmod``, ``rm``, a forked ``java`` before its exec)
    share the JVM's pages and would count them twice; only Python
    children of the JVM (Spark's Python workers) are kept below it."""
    kids, comm = _processes()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for c in kids.get(p, []):
            if comm.get(p) != "java" or comm.get(c, "").startswith("python"):
                todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """(all, JIT) CPU seconds (user + system) the process tree has used
    so far. ``all`` includes children that have exited and been waited
    for; ``JIT`` is the JVMs' compiler threads, which must be kept alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``) for it to be whole."""
    total = jit = 0
    for p in tree(pid):
        st = _stat(p)
        if st is None:
            continue
        total += sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{p}/task") if st[0] == "java" else []
        except OSError:
            tids = []
        for tid in tids:
            t = _stat(f"{p}/task/{tid}")
            if t is not None and t[0].startswith(("C1 Compiler", "C2 Compiler")):
                jit += int(t[1][11]) + int(t[1][12])
    return total / _TICK, jit / _TICK
