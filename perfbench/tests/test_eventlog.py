import eventlog
from layers import Recorder, drain_listener

# A groupBy over 2 input partitions with 2 shuffle partitions: under AQE
# the shuffle map stage runs as its own job (2 tasks), then the result
# stage over the coalesced shuffle (1 task).
TINY = {"jobs": 2, "stages": 2, "tasks": 3}


def _tiny_query(spark):
    return spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()


def test_stage_and_task_attribution_to_job_group(spark, event_log_dir):
    sc = spark.sparkContext
    rec = Recorder(sc, "t")
    with rec.op(0, "tiny") as op:
        with rec.span("queries", "build"):
            df = _tiny_query(spark)
        with rec.span("operators", "action"):
            rows = df.collect()
    assert op.error is None and len(rows) == 7
    drain_listener(sc)
    usage = eventlog.attribute(eventlog.read_events(event_log_dir))
    build = usage.get((op.group, "build"), eventlog.Usage())
    action = usage[(op.group, "action")]
    assert build.jobs == 0
    assert (action.jobs, action.stages, action.tasks) == tuple(TINY.values())
    # the status tracker sees the same job group
    assert (op.jobs, op.stages, op.tasks) == tuple(TINY.values())
    assert op.jobs_by_label == {"build": 0, "action": TINY["jobs"]}
    # shuffle bytes and stage spans are attributed with the tasks
    assert action.shuffle_write_bytes > 0 and action.shuffle_read_bytes > 0
    assert len(action.stage_spans) == TINY["stages"]


def test_untagged_work_is_not_attributed_to_a_group(spark, event_log_dir):
    sc = spark.sparkContext
    _tiny_query(spark).collect()
    drain_listener(sc)
    usage = eventlog.attribute(eventlog.read_events(event_log_dir))
    assert usage[("", "")].jobs >= TINY["jobs"]


def test_covered_ms_unions_overlapping_spans():
    spans = [(0, 10), (5, 20), (30, 40)]
    assert eventlog.covered_ms(spans, 0, 100) == 30
    assert eventlog.covered_ms(spans, 8, 35) == 17
