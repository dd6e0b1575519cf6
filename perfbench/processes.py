"""Stop every process a benchmark run started, and wait for each.

The run starts one JVM (the Spark gateway), which starts the Python
worker daemon and its workers. The JVM leaves on its own only once it
reads end-of-file on its stdin, some time after this process exits, so
the run stops it itself: it closes that pipe, waits for the JVM, then
waits for every other process below it. As a child subreaper this
process inherits whatever the JVM orphans, so it can reap those too.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time
from typing import List

import probes

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # still stops the JVM and waits for what it can see


def _live_descendants() -> List[int]:
    live = []
    for pid in probes.descendants(os.getpid()):
        fields = probes.stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            live.append(pid)
    return live


def _reap() -> None:
    """Collect every child that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_spark(grace_s: float) -> None:
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM is stopped below either way
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        try:
            proc.stdin.close()  # the JVM exits on end-of-file
        except OSError:
            pass
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_all(grace_s: float = 30.0) -> None:
    """Stop Spark and its JVM, then wait until no process started by
    this one is left; what outlives ``grace_s`` is killed."""
    _stop_spark(grace_s)
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        live = _live_descendants()
        if not live:
            break
        if time.monotonic() > deadline + 10.0:
            break  # killed yet still there: nothing more to do
        if time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)
    _reap()
