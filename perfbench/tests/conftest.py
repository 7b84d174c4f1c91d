"""Fixtures for the benchmark's own tests: one local Spark session with the
event log on, writing into a temporary directory."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_log_dir):
    # Python workers unpickle the fake transport from the benchmark directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from trello_github_etl_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir,
        },
    )
    yield s
    s.stop()
