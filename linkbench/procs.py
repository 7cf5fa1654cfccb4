"""Process-tree accounting from /proc: the Spark JVM and its Python
workers are descendants of the benchmark process, and none may outlive it."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from collections import defaultdict


def descendants(pid: int | None = None) -> list[int]:
    """Pids of every live descendant of ``pid`` (default: this process)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry))
    out, stack = [], [pid or os.getpid()]
    while stack:
        for child in kids.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a live (not zombie) process, None otherwise."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_spark(spark) -> int:
    """Stop the session, end the JVM and wait until none of the processes
    it started is left. Returns how many had to be signalled after the
    JVM exited (Python workers re-parented away from this process are
    tracked by pid and start time)."""
    from pyspark import SparkContext

    started = {pid: _start_time(pid) for pid in descendants()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)

    def alive() -> list[int]:
        return [p for p, t in started.items()
                if t is not None and _start_time(p) == t]

    leftover = len(alive())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        if not alive():
            break
    return leftover
