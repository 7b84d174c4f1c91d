"""In-process fake transport for ``rest_sink.run_sink``.

``run_sink`` calls its transport and sleep function inside Spark tasks, in
Python worker processes, so both record to an append-only JSON-lines log
that the benchmark reads back after the sink job ends. The transport
raises ``RateLimited`` on a seeded share of attempts; the sleep function
records the backoff the sink asked for and does not sleep.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from dataclasses import dataclass, field

from trello_github_etl_spark.sources.rest_sink import RateLimited


def _key(payload: dict) -> tuple:
    if payload.get("op") == "set_field_value":
        return (payload["op"], payload["entity_id"], payload["field_name"])
    return (payload["op"], payload["entity_id"])


def _unit(seed: int, key: tuple, attempt: int) -> float:
    h = hashlib.blake2b(repr((seed, key, attempt)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big") / 2.0**64


def _append(path: str, rec: dict) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


@dataclass
class FakeTransport:
    log_path: str
    seed: int
    limit_share: float  # share of attempts answered with RateLimited
    max_limits: int = 2  # consecutive limits per payload, below max_retries
    _attempts: Counter = field(default_factory=Counter, repr=False)

    def __call__(self, payload: dict) -> None:
        key = _key(payload)
        n = self._attempts[key]
        self._attempts[key] = n + 1
        if n < self.max_limits and _unit(self.seed, key, n) < self.limit_share:
            _append(self.log_path, {"e": "limited", "key": list(key)})
            raise RateLimited(f"secondary rate limit for {key}")
        _append(self.log_path, {"e": "ack", "key": list(key)})


@dataclass
class RecordingSleep:
    log_path: str

    def __call__(self, seconds: float) -> None:
        if seconds > 0:
            _append(self.log_path, {"e": "backoff", "s": seconds})


@dataclass
class SinkLog:
    acks: list = field(default_factory=list)
    limited: int = 0
    backoff_s: float = 0.0

    @property
    def attempts(self) -> int:
        return len(self.acks) + self.limited

    @property
    def ack_ratio(self) -> float:
        return len(self.acks) / self.attempts if self.attempts else 1.0


def read_log(path: str) -> SinkLog:
    out = SinkLog()
    try:
        with open(path) as f:
            lines = f.readlines()
    except FileNotFoundError:
        return out
    for line in lines:
        rec = json.loads(line)
        if rec["e"] == "ack":
            out.acks.append(tuple(rec["key"]))
        elif rec["e"] == "limited":
            out.limited += 1
        else:
            out.backoff_s += rec["s"]
    return out
