"""Process-tree accounting and drift diagnostics read from ``/proc``.

The tree is every process in one session: the worker is started as a
session leader, and neither the JVM nor PySpark's daemon and Python
workers leave that session.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # Field 2 (comm) may hold spaces; the rest follows its closing paren.
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int, zombies: bool = True) -> list[str]:
    """Pids of the processes in session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            # fields[0] is stat field 3 (state), so session is fields[3].
            if fields is not None and int(fields[3]) == sid and (zombies or fields[0] != "Z"):
                out.append(pid)
    return out


# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...) as
# /proc/<pid>/task/<tid>/comm shows them, cut to 15 characters.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: str) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        if name.startswith(_JIT_THREADS):
            fields = _stat_fields(f"{pid}/task/{tid}")
            if fields is not None:
                ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(sid: int) -> tuple[float, float]:
    """CPU seconds of the session, and the part of them spent by JIT
    compiler threads.

    The total is user + system time of every live process plus that of
    their children already reaped. The JIT part is exact only while
    compiler threads never exit, which the JVM ensures when started
    with ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    ticks = jit = 0
    for pid in session_pids(sid):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
            jit += _jit_ticks(pid)
    return ticks / _TICK, jit / _TICK


def tree_rss_mb(sid: int) -> float:
    """Summed resident set size of the session's processes."""
    pages = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2**20


def alive(sid: int) -> bool:
    """Whether session ``sid`` has a process that is not a zombie (a
    zombie holds nothing, and only its parent can remove it)."""
    return bool(session_pids(sid, zombies=False))


def steal_s() -> float:
    """Machine-wide steal time so far, from the aggregate cpu line."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


def calibration_s() -> float:
    """Time of a fixed pure-Python loop: a drift probe of this core's
    speed, taken before and after the workload."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t
