"""The processes a run starts: the Spark JVM and its Python workers.

``become_subreaper`` and ``stop_descendants`` make sure none of them
outlives the run; ``peak_rss_mb`` reads their memory.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        table[int(d)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), name)
    return table


def children() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in process_table().items() if ppid == me]


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM (the java descendant)."""

    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    table = process_table()
    me = os.getpid()

    def descends(pid: int) -> bool:
        while pid in table and pid > 1:
            pid = table[pid][0]
            if pid == me:
                return True
        return False

    jvm = [p for p, (_, c) in table.items() if c == "java" and descends(p)]
    return (hwm(me) + sum(hwm(p) for p in jvm)) / 1024.0


def become_subreaper() -> None:
    """Make the descendants this process orphans (the JVM's Python
    workers once the JVM is gone) its children, so that
    stop_descendants can wait for every one of them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended.

    The Spark JVM exits by itself once its standard input closes, which
    otherwise happens only when this process exits, so it would outlive
    the run.  Close it here, then terminate (after ``grace_s``, kill)
    whatever is left and reap it."""
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=grace_s)
            except (OSError, subprocess.TimeoutExpired):
                pass
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
