"""Every process a run starts has ended, and been reaped, before it returns.

PySpark's JVM exits only when it reads end-of-file on the stdin pipe
the Python side holds, so left alone it outlives the benchmark by a
fraction of a second, and the Python workers it forks outlive it in
turn. ``become_subreaper`` makes orphaned descendants children of this
process; ``stop_all`` stops Spark, closes that pipe, and waits for every
child (killing the ones that do not end in time) until none is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
#: seconds the JVM gets to run its shutdown hooks before it is killed
GRACE_S = 20.0


def become_subreaper() -> None:
    """Orphaned descendants (the JVM's Python workers once the JVM is
    gone) are re-parented to this process, so ``stop_all`` can wait for
    them. A SIGTERM unwinds through the callers' ``finally`` blocks."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def _reap(deadline: float) -> bool:
    """Wait for children until none is left (True) or the deadline."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid:
            continue
        if time.monotonic() > deadline:
            return False
        time.sleep(0.02)


def stop_all() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may be gone already
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
            SparkContext._gateway = SparkContext._jvm = None
        if not _reap(time.monotonic() + GRACE_S):
            # kill, then reap what the kills orphan in turn
            for _ in range(50):
                for pid in _children():
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                if _reap(time.monotonic() + 0.2):
                    return
            raise RuntimeError(f"processes still running: {_children()}")
