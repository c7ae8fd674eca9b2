"""Process hygiene for a benchmark run: every process the run starts (the
driver JVM, Spark's Python daemon and its workers) is stopped, and waited
for, before the run exits.

PySpark starts the driver JVM as a child process and leaves it to exit on
its own once its stdin closes, which happens only after Python has exited;
the JVM's Python daemon may outlive it for a moment too. So the run makes
itself a child subreaper (orphaned descendants are re-parented to it, where
it can reap them), and :func:`stop_all` closes the gateway, then terminates
and reaps whatever is left below this process.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

from tracing import tree_pids

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux only; a no-op
    elsewhere, where :func:`stop_all` still stops what it can see)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_all(grace_s: float = 10.0, kill_s: float = 10.0) -> list[int]:
    """Stop every process below this one and wait until each has ended.

    The JVM is first asked to exit the way PySpark intends (its stdin is
    closed); whatever is still running after ``grace_s`` gets SIGTERM, and
    after ``kill_s`` more, SIGKILL. Returns the pids still alive at the end,
    which is empty unless a process ignored SIGKILL."""
    _close_gateway(grace_s)
    me = os.getpid()
    term_at = time.monotonic()
    kill_at = term_at + kill_s
    end_at = kill_at + 5.0
    while True:
        _reap()
        alive = [p for p in tree_pids(me) if p != me and not _is_zombie(p)]
        if not alive or time.monotonic() > end_at:
            return alive
        sig = signal.SIGKILL if time.monotonic() >= kill_at else signal.SIGTERM
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _close_gateway(timeout: float) -> None:
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # py4j errors of a JVM that is gone already
        pass
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits once its stdin closes
        proc.wait(timeout=timeout)
    except (OSError, subprocess.TimeoutExpired):  # stop_all terminates it
        pass


def _reap() -> None:
    """Collect every child that has exited, re-parented ones included."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return True  # gone
    return stat[stat.rindex(b")") + 2:].split()[0] in (b"Z", b"X")
