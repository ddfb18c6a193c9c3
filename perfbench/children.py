"""Every process a run starts ends before the run does.

The Spark JVM is this process's child; PySpark's Python worker daemon and
its forks are the JVM's. When the Python driver simply exits, the JVM
notices the closed stdin pipe and shuts down on its own time, and its
workers after it, so they would outlive the run. ``adopt_orphans`` makes
this process the subreaper of everything below it; ``stop_jvm`` shuts the
JVM down and ``reap`` then waits until no child is left, killing what does
not end within its grace period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Have descendants whose parent exits re-parented to this process
    rather than to init, so that ``reap`` can wait for them (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        if ppid == me:
            pids.append(int(entry))
    return pids


def stop_jvm(timeout: float = 30.0) -> None:
    """Shut down the Py4J gateway and the JVM behind it (after
    ``spark.stop()``), and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass  # the JVM may already be gone; the pipe below ends it anyway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # EOF on stdin: the gateway server exits
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap(grace: float = 15.0) -> None:
    """Wait until this process has no child left. Children still
    running after ``grace`` seconds are killed; so is anything they
    leave behind, which comes to this process as an orphan."""
    deadline = time.monotonic() + grace
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no children at all
            if pid == 0:
                break
        if time.monotonic() > deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def exit_on_sigterm() -> None:
    """Turn SIGTERM into ``SystemExit``, so ``finally`` blocks (and with
    the clean-up) run when the run is terminated."""
    def handler(signum, _frame):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)
