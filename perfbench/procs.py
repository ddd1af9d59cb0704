"""The run's own process tree, read from ``/proc``: its CPU time, and a
shutdown that leaves no process of the run behind."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def descendants(pid: int) -> list[int]:
    """Live processes under ``pid`` (the JVM and its Python worker daemons)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) and st[0] not in ("Z", "X"):
            parent[int(d)] = int(st[1])
    out, todo = [], [pid]
    while todo:
        kids = [c for c, p in parent.items() if p == todo[-1]]
        todo.pop()
        out += kids
        todo += kids
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 chars


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (none outside a JVM)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1 : s.rindex(")")].startswith(JIT_THREADS):
            st = s.rsplit(")", 1)[1].split()
            ticks += int(st[11]) + int(st[12])  # utime stime
    return ticks


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live process
    under it, each with its reaped children, less the JVM's JIT compiler
    threads. Time the hypervisor stole from the guest is not in it. The
    compiler threads must outlive the measurement (the JVM runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``), or their time would stay in
    the JVM's total after they exit and no longer be taken out."""
    ticks = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        if st := _stat(pid):
            ticks += sum(int(x) for x in st[11:15]) - _jit_ticks(pid)  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_jvm(timeout: float = 30.0) -> None:
    """Stop the Spark context, the JVM this process launched and every
    process under it, and wait until each has ended. ``SparkSession.stop``
    leaves the JVM up, and the JVM only ends on its own some time after
    this process has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.close()  # client sockets only; the JVM is ended below
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF on its stdin
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while (left := [p for p in procs if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)
