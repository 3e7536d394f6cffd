"""Process-tree accounting from /proc: the benchmark's child process runs in
its own session, so the session id names every process of the run (the
Python driver, the JVM, the Python daemon, its workers and the source
runner), including any that were re-parented."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1], *tail.split()]


def session_pids(sid: int) -> list[tuple[int, str, list[str]]]:
    """(pid, comm, stat fields after comm) of every live process in ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(name)
        # fields after comm: [0]=state [1]=ppid [2]=pgrp [3]=session
        if st is not None and int(st[4]) == sid:
            out.append((int(name), st[0], st[1:]))
    return out


def cpu_s(sid: int) -> float:
    """User plus system CPU of the session: each live process's own time
    plus that of the children it has reaped."""
    total = 0
    for _pid, _comm, f in session_pids(sid):
        # utime, stime, cutime, cstime are stat fields 14-17 (1-based)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(sid: int) -> tuple[float, float]:
    """(JVM, Python and other) resident memory of the session in MB, as the
    proportional set size: a page shared by several processes (the forked
    Python workers share their parent daemon's) is split among them instead
    of counted once per process."""
    jvm = other = 0
    for pid, comm, _f in session_pids(sid):
        kb = _pss_kb(pid)
        if comm == "java":
            jvm += kb
        else:
            other += kb
    return jvm / 1024, other / 1024
