"""Ending the process tree the benchmark leaves, orphans included."""

from __future__ import annotations

import os
import subprocess

from procs import _start_time, descendants, end_all, snapshot


def test_end_all_ends_orphaned_grandchildren():
    # a parent with two children that ignore SIGTERM, so SIGKILL is needed
    parent = subprocess.Popen(
        ["bash", "-c", "trap '' TERM; sleep 60 & sleep 60 & wait"],
    )
    try:
        for _ in range(100):
            if len(descendants(parent.pid)) == 2:
                break
            subprocess.run(["sleep", "0.05"])
        procs = snapshot(parent.pid)
        kids = descendants(parent.pid)
        assert len(kids) == 2 and set(kids) == set(procs)
        parent.kill()
        parent.wait()  # the sleeps are orphans now, no longer below us
        assert not set(kids) & set(descendants(os.getpid()))
        assert end_all(procs, grace_s=0.5) == []
        assert all(_start_time(pid) is None for pid in kids)
    finally:
        if parent.poll() is None:
            parent.kill()
            parent.wait()


def test_end_all_ignores_a_reused_pid():
    # a snapshot entry whose start time no longer matches is left alone
    me = os.getpid()
    assert end_all({me: "0"}, grace_s=0.1) == []
    assert _start_time(me) is not None
