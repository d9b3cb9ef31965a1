"""CPU time of the benchmark's own processes: the Python driver plus the
Spark JVM it launched.

The benchmark times operations in CPU seconds, not wall seconds.  It runs
on a few cores of a shared host, where other tenants' load stretches wall
time by tens of percent from one run to the next; the CPU time the
benchmark's processes consume for the same work moves far less.

The JVM's JIT compiler threads are counted apart (``jit_s``): they compile
in the background, on their own schedule, so the CPU they burn lands in
whichever operation happens to be running.
"""

from __future__ import annotations

import os
import time

from pyspark import SparkContext

_TICK = os.sysconf("SC_CLK_TCK")
# ``-XX:-UseDynamicNumberOfCompilerThreads`` keeps every compiler thread
# alive for the JVM's lifetime, so none takes its CPU time with it
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"
_compiler_tids: dict[int, list[str]] = {}


def jvm_pid() -> int | None:
    """Pid of the JVM behind the active gateway (``spark-class`` execs it,
    so the launched process is the JVM itself)."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _stat_s(path: str, children: bool = False) -> float:
    """User + system seconds of ``/proc/.../stat`` (fields 14-15, and the
    reaped children's 16-17 when asked), at clock-tick resolution."""
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # a thread that has exited
        return 0.0
    return sum(int(x) for x in fields[11:15 if children else 13]) / _TICK


def _compilers(pid: int) -> list[str]:
    if pid not in _compiler_tids:
        tids = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if "CompilerThre" in fh.read():
                    tids.append(tid)
        _compiler_tids[pid] = tids
    return _compiler_tids[pid]


def sample() -> tuple[float, float]:
    """``(cpu_s, jit_s)``: CPU seconds consumed so far by this process and
    the live JVM, JIT compiler threads excluded, and those threads' own."""
    cpu = time.process_time()
    pid = jvm_pid()
    if pid is None:
        return cpu, 0.0
    jvm = _stat_s(f"/proc/{pid}/stat", children=True)
    jit = sum(_stat_s(f"/proc/{pid}/task/{t}/stat") for t in _compilers(pid))
    return cpu + jvm - jit, jit
