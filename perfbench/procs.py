"""The process tree below the benchmark: the JVM that spark-submit starts
and the Python workers it forks. Read from ``/proc``."""

from __future__ import annotations

import os
import signal
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid``, children before grandchildren."""
    kids = _children()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a process that has not ended, or None (gone, or a
    zombie). Told apart from a later process that reuses the pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def snapshot(root_pid: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root_pid``. Take it
    before a parent ends: its children are re-parented then."""
    procs = {pid: _start_time(pid) for pid in descendants(root_pid)}
    return {pid: st for pid, st in procs.items() if st is not None}


def end_all(procs: dict[int, str], grace_s: float = 10.0) -> list[int]:
    """Wait up to ``grace_s`` for each process of a snapshot to end, then
    SIGTERM what is left and wait again, then SIGKILL. Returns the pids
    still running after that (none, unless the kernel could not kill
    them)."""

    def running(left):
        return {pid: st for pid, st in left.items() if _start_time(pid) == st}

    left = running(procs)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + grace_s
        while left and time.time() < deadline:
            time.sleep(0.05)
            left = running(left)
        if not left:
            break
    return sorted(left)
