from stats import percentile, tail


def test_percentile_is_nearest_rank():
    vals = [float(v) for v in range(1, 21)]
    assert percentile(vals, 50) == 10.0
    assert percentile(vals, 90) == 18.0
    assert percentile(vals, 100) == 20.0


def test_tail_needs_ten_samples_beyond_it():
    # 20 samples: p50 leaves exactly 10 above it, p75 only 5
    q, v, beyond = tail([float(v) for v in range(1, 21)])
    assert (q, v, beyond) == (50.0, 10.0, 10)
    # 100 samples: p90 leaves 10 above it, p95 only 5
    q, v, beyond = tail([float(v) for v in range(1, 101)])
    assert (q, v, beyond) == (90.0, 90.0, 10)
    # 1000 samples: p99 leaves 10 above it
    q, v, beyond = tail([float(v) for v in range(1, 1001)])
    assert (q, v, beyond) == (99.0, 990.0, 10)


def test_tail_with_too_few_samples_is_the_maximum():
    for n in (1, 5, 10, 19):
        vals = [float(v) for v in range(n)]
        assert tail(vals) == (100.0, float(n - 1), 0)
