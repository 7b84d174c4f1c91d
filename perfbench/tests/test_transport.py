from trello_github_etl_spark.sources.rest_sink import SinkConfig, run_sink
from transport import FakeTransport, RecordingSleep, read_log


def test_fake_transport_retry_and_backoff_accounting(spark, tmp_path):
    log = str(tmp_path / "sink.jsonl")
    rows = [("create_issue", f"c{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "op string, entity_id string")
    transport = FakeTransport(log, seed=11, limit_share=0.5, max_limits=2)
    cfg = SinkConfig(sleep_s=0.0, backoff_start_s=60.0, backoff_factor=2.0)
    run_sink(df, transport, cfg, RecordingSleep(log))
    sink = read_log(log)
    # every row is delivered exactly once, whatever was rate limited
    assert sorted(sink.acks) == sorted(rows)
    assert sink.limited > 0
    assert sink.attempts == len(rows) + sink.limited
    assert sink.ack_ratio == len(rows) / sink.attempts
    # reset-on-success backoff: a payload's first limit asks 60 s, its
    # second consecutive limit 120 s
    import json
    from collections import Counter

    with open(log) as f:
        limits = Counter(
            tuple(r["key"]) for r in map(json.loads, f) if r["e"] == "limited"
        )
    assert set(limits.values()) <= {1, 2}
    assert sink.backoff_s == sum(60.0 if k == 1 else 180.0 for k in limits.values())


def test_rate_limits_are_seeded(tmp_path):
    a = FakeTransport(str(tmp_path / "a"), seed=3, limit_share=0.3)
    b = FakeTransport(str(tmp_path / "b"), seed=3, limit_share=0.3)

    def outcomes(t):
        out = []
        for i in range(50):
            try:
                t({"op": "create_issue", "entity_id": f"c{i}"})
                out.append("ack")
            except Exception:  # noqa: BLE001 - RateLimited
                out.append("limited")
        return out

    assert outcomes(a) == outcomes(b)
    assert "limited" in outcomes(FakeTransport(str(tmp_path / "c"), seed=3, limit_share=0.3))
