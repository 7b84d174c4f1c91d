"""spark-graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload board_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program under test
(``trello_github_etl_spark``) is imported from that root; without it the
benchmark exits non-zero before printing a result. Everything a run writes
stays under ``.perfbench_work/`` in the checkout and is removed at exit.
At exit, also on SIGTERM, it stops the JVM and the Python workers under it
and waits until each has ended.

One client thread runs the workload's operations back to back on
``local[nproc]`` with ``nproc`` shuffle partitions. Every timed pass reads
its own freshly generated input, so no cache can carry over between passes.

``--trace 0`` sets up once from a cold process (session start with the JVM
launch, ``registry.load_all`` and a warm-up pass on a warm-up input), then
runs passes until ``--seconds`` of operation time is spent and at least
``MIN_PASSES`` passes ran. It prints ``setup_s``, ``rows_per_s`` (median
over passes), ``op_s_p50``, ``ok_ratio`` (1 - fail_ratio) and
``peak_rss_mb`` in the result, and ``op_s_tail``, ``fail_ratio`` and
``held_storage_mb`` on the lines above it. Those three are not in the
result: a run holds 4 to 8 operations, so no percentile has 10 samples
beyond it and the tail falls back to the maximum; fail_ratio is 0 when the
program is correct; held storage is 0 on workloads that pin nothing.

``--trace 1`` measures the window twice: untraced, and then in a second
session (same JVM, its own untimed warm-up pass) with the Spark event log
on. It prints the per-layer metrics (per operation on the lines above the
result, per pass in the result) and the tracing overhead. Outputs are
checked after the timed window in both modes.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The session runs the program's own defaults (get_spark: G1, tiered JIT,
# AQE, Arrow) except what the benchmark must control: master, shuffle
# partitions, local and temporary directories, the event log, and the
# driver heap. The heap goes through the program's SPARK_GRAFT_DRIVER_MEM
# knob and is fixed with -Xms, because every run is a cold JVM of about a
# minute and heap growth follows GC timing: with the program's 8g default
# peak RSS ranged over 2.9-3.9 GB; with a 1g cap the quartile spread of
# peak_rss_mb on corpus_dedup was 0.11 without -Xms and 0.02 with it
# (LAYERS.md has the paired measurements).
DRIVER_MEM = "1g"
# Timed passes a window holds at least. The first pass after the warm-up
# runs 10-25% slower while the JIT still compiles, so a window of one pass
# would report that pass alone.
MIN_PASSES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--counts-out",
        help="write the traced run's per-operation counts here as JSON",
    )
    return ap.parse_args(argv)


def say(*parts) -> None:
    print(*parts, flush=True)


class Bench:
    def __init__(self, args, workload_cls, work: str):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.work = work
        self.wl = workload_cls(self.work, args.seed)
        self.spark = None

    # -- session ---------------------------------------------------------
    def start(self, event_log: str | None = None):
        from trello_github_etl_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": event_log,
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- phases ----------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Session start + registry.load_all + one warm-up pass on a
        warm-up input. Returns (setup seconds, session-start seconds)."""
        from gen import WARMUP
        from layers import Recorder
        from trello_github_etl_spark import registry

        warm = self.wl.make_input(WARMUP, 0)
        t0 = time.time()
        spark = self.start()
        t1 = time.time()
        registry.load_all()
        self.warm_up(warm, Recorder(spark.sparkContext, "warm"))
        t2 = time.time()
        return t2 - t0, t1 - t0

    def warm_up(self, warm: dict, rec) -> None:
        """One untimed pass on a warm-up input."""
        self.wl.run_pass(self.spark, rec, warm, -1)
        for op in rec.ops:
            if op.error:
                say(f"warm-up {op.name} raised: {op.error}")

    def window(self, tag: str):
        """Run timed passes until ``--seconds`` of operation time is spent
        and at least ``MIN_PASSES`` passes ran;
        returns the recorder and the passes' inputs."""
        from gen import PASS
        from layers import Recorder

        rec = Recorder(self.spark.sparkContext, tag)
        inputs, spent, i = [], 0.0, 0
        while spent < self.args.seconds or i < MIN_PASSES:
            inp = self.wl.make_input(PASS, i)
            n_before = len(rec.ops)
            self.wl.run_pass(self.spark, rec, inp, i)
            spent += sum(op.wall_s for op in rec.ops[n_before:])
            inputs.append(inp)
            i += 1
        return rec, inputs

    def verdict(self, rec, inputs) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over the window's operations."""
        problems = [f"{op.group} raised {op.error}" for op in rec.ops if op.error]
        for i, inp in enumerate(inputs):
            problems += [f"pass {i} {p}" for p in self.wl.check(self.spark, inp)]
        problems += self.wl.check_end(self.spark)
        attempted = len(rec.ops)
        return attempted, min(attempted, len(problems)), problems


def stop_jvm(wait_s: float = 30.0) -> None:
    """Stop the JVM pyspark launched and every process under it, and wait
    until each has ended. ``spark.stop()`` leaves the JVM running until
    this process exits; it would then end on its own a moment later, and
    its Python workers with it."""
    import subprocess

    from procs import end_all, snapshot
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = snapshot(os.getpid())
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:
        pass  # the JVM may already be gone
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        try:
            jvm.stdin.close()  # the gateway exits at the end of its stdin
        except OSError:
            pass
        try:
            jvm.wait(wait_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    left = end_all(procs)
    if left:
        print(f"perfbench: processes still running after SIGKILL: {left}", file=sys.stderr)


def pass_walls(rec) -> dict[int, float]:
    walls: dict[int, float] = {}
    for op in rec.ops:
        walls[op.pass_idx] = walls.get(op.pass_idx, 0.0) + op.wall_s
    return walls


def rows_per_s(rec, inputs) -> list[float]:
    return [inputs[i]["rows"] / w for i, w in sorted(pass_walls(rec).items())]


def env_record(bench, spark) -> dict:
    import pyspark

    inputs = bench.wl.describe()
    return {
        "nproc": bench.cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "client_threads": 1,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "seed": bench.args.seed,
        "workload": bench.args.workload,
        "input": inputs,
    }


def run_untraced(bench) -> dict:
    from layers import pinned
    from stats import median, tail

    t0 = time.time()
    setup_s, start_s = bench.setup()
    t1 = time.time()
    rec, inputs = bench.window("t")
    t2 = time.time()
    sc = bench.spark.sparkContext
    held_mb = pinned(sc)[1]
    say("env", json.dumps(env_record(bench, bench.spark), sort_keys=True))
    attempted, failed, problems = bench.verdict(rec, inputs)
    say(f"phases: setup {t1 - t0:.1f} s, window {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
    for p in problems:
        say("FAIL", p)
    walls = [op.wall_s for op in rec.ops]
    q, tail_v, beyond = tail(walls)
    rps = rows_per_s(rec, inputs)
    say(
        "input",
        json.dumps(
            {
                "passes": len(inputs),
                "rows_per_pass": [i["rows"] for i in inputs],
                "bytes_per_pass": [i["bytes"] for i in inputs],
            }
        ),
    )
    for name in bench.wl.ops:
        ops = [o for o in rec.ops if o.name == name]
        say(
            f"op {name}: n={len(ops)} wall_p50={median([o.wall_s for o in ops]):.3f}s "
            f"walls={['%.3f' % o.wall_s for o in ops]} "
            f"jobs={[o.jobs for o in ops]} stages={[o.stages for o in ops]} "
            f"tasks={[o.tasks for o in ops]} jobs_by_call={[o.jobs_by_label for o in ops]}"
        )
    say(f"pass walls {['%.3f' % w for _, w in sorted(pass_walls(rec).items())]}")
    say(f"setup_s {setup_s:.3f} s, of which session start {start_s:.3f} s")
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (median(rps), "rows/s"),
        "op_s_p50": (median(walls), "s"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (None, "MB"),  # filled after the sampler stops
    }
    # printed, not gated: see the module docstring
    say(f"metric op_s_tail = {tail_v} s (p{q:g} of {len(walls)} operations, {beyond} beyond it)")
    say(f"metric fail_ratio = {failed / attempted} ratio ({failed} of {attempted} failed)")
    say(f"metric held_storage_mb = {held_mb} MB")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run_traced(bench) -> dict:
    import eventlog
    from gen import WARMUP
    from layers import Recorder, pinned
    from stats import median

    _, start_s = bench.setup()
    # a second warm-up pass, so the untraced window is not the only one
    # that runs while the JIT is still compiling
    bench.warm_up(bench.wl.make_input(WARMUP, 1), Recorder(bench.spark.sparkContext, "warm1"))
    rec0, inputs0 = bench.window("u")
    untraced = median(rows_per_s(rec0, inputs0))
    # The traced session gets an untimed warm-up pass of its own, as the
    # untraced window did, so the overhead does not count a new session's
    # first jobs and fresh Python workers.
    log_dir = os.path.join(bench.work, "eventlog")
    bench.stop()
    bench.start(event_log=log_dir)
    bench.warm_up(bench.wl.make_input(WARMUP, 2), Recorder(bench.spark.sparkContext, "warm2"))
    rec, inputs = bench.window("t")
    traced = median(rows_per_s(rec, inputs))
    held_mb = pinned(bench.spark.sparkContext)[1]
    say("env", json.dumps(env_record(bench, bench.spark), sort_keys=True))
    attempted, failed, problems = bench.verdict(rec, inputs)
    for p in problems:
        say("FAIL", p)
    bench.stop()  # flushes and closes the event log
    usage = eventlog.attribute(eventlog.read_events(log_dir))
    per_op = op_layers(rec, usage, bench.cores)
    report_ops(bench.wl.ops, per_op)
    metrics = layer_metrics(per_op, bench.cores)
    metrics["session.start_s"] = (start_s, "s")
    metrics["operators.held_storage_mb"] = (held_mb, "MB")
    metrics["trace.overhead_frac"] = (untraced / traced - 1.0 if traced else 0.0, "ratio")
    say(f"tracing overhead: untraced {untraced:.2f} rows/s, traced {traced:.2f} rows/s")
    if bench.args.counts_out:
        with open(bench.args.counts_out, "w") as f:
            json.dump([{k: v for k, v in o.items() if k in COUNT_KEYS or k in ("pass", "op")}
                       for o in per_op], f, indent=1, sort_keys=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


# Per-operation layer values. Counts are listed in COUNT_KEYS; the
# exactness audit compares them between two traced runs of one seed.
COUNT_KEYS = (
    "queries.build_jobs", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.pinned_rdds", "io.read_rows", "plans.creates", "plans.updates",
    "plans.field_changes", "plans.versions", "sources.sink_calls", "sources.sink_retries",
)


def op_layers(rec, usage, cores) -> list[dict]:
    from eventlog import MB as EMB
    from eventlog import Usage, covered_ms

    out = []
    for op in rec.ops:
        total = Usage()
        labels = {s.label: s.layer for s in op.spans}
        build_jobs = 0
        for (group, label), u in usage.items():
            if group == op.group:
                total.add(u)
                if labels.get(label) == "queries":
                    build_jobs += u.jobs
        wall_ms = op.wall_s * 1000.0
        idle = wall_ms - covered_ms(total.stage_spans, op.t0 * 1000.0, op.t1 * 1000.0)
        c = op.counters

        def span_s(label):
            return sum(s.t1 - s.t0 for s in op.spans if s.label == label)

        out.append(
            {
                "pass": op.pass_idx,
                "op": op.name,
                "wall_s": op.wall_s,
                "queries.build_s": op.layer_s("queries"),
                "queries.build_jobs": build_jobs,
                "operators.action_s": op.layer_s("operators"),
                "operators.jobs": op.jobs,
                "operators.stages": op.stages,
                "operators.tasks": op.tasks,
                "operators.idle_s": idle / 1000.0,
                "operators.exec_run_s": total.exec_run_ms / 1000.0,
                "operators.exec_cpu_s": total.exec_cpu_ns / 1e9,
                "operators.gc_s": total.gc_ms / 1000.0,
                "operators.shuffle_write_mb": total.shuffle_write_bytes / EMB,
                "operators.shuffle_read_mb": total.shuffle_read_bytes / EMB,
                "operators.shuffle_fetch_wait_s": total.fetch_wait_ms / 1000.0,
                "operators.spill_disk_mb": total.spill_disk_bytes / EMB,
                "operators.pinned_mb": op.pinned_mb,
                "operators.pinned_rdds": op.pinned_rdds,
                "io.read_mb": total.input_bytes / EMB,
                "io.read_rows": total.input_records,
                "plans.plan_s": span_s("plan_upserts"),
                "plans.commit_s": span_s("commit"),
                "plans.creates": c.get("creates", 0),
                "plans.updates": c.get("updates", 0),
                "plans.field_changes": c.get("field_changes", 0),
                "plans.commit_mb": c.get("commit_mb", 0.0),
                "plans.versions": c.get("versions", 0),
                "sources.read_s": span_s("read_board"),
                "sources.sink_s": span_s("run_sink"),
                "sources.sink_calls": c.get("sink_calls", 0),
                "sources.sink_retries": c.get("sink_retries", 0),
                "sources.sink_acks": c.get("sink_acks", 0),
                "sources.sink_backoff_s": c.get("sink_backoff_s", 0.0),
                "error": op.error,
            }
        )
    return out


# per_layer metric name -> unit; summed over a pass, median over passes
SUMMED = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "operators.action_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.idle_s": "s", "operators.exec_run_s": "s",
    "operators.exec_cpu_s": "s", "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.shuffle_fetch_wait_s": "s", "operators.spill_disk_mb": "MB",
    "io.read_mb": "MB", "io.read_rows": "rows",
    "plans.plan_s": "s", "plans.commit_s": "s", "plans.creates": "count",
    "plans.updates": "count", "plans.field_changes": "count", "plans.commit_mb": "MB",
    "sources.read_s": "s", "sources.sink_s": "s", "sources.sink_calls": "count",
    "sources.sink_retries": "count", "sources.sink_backoff_s": "s",
}
# maximum over the window's operations
PEAK = {"operators.pinned_mb": "MB", "operators.pinned_rdds": "count", "plans.versions": "count"}


def layer_metrics(per_op: list[dict], cores: int) -> dict:
    from stats import median

    passes = sorted({o["pass"] for o in per_op})
    metrics = {}
    for name, unit in SUMMED.items():
        sums = [sum(o[name] for o in per_op if o["pass"] == p) for p in passes]
        metrics[name] = (median(sums), unit)
    for name, unit in PEAK.items():
        metrics[name] = (max(o[name] for o in per_op), unit)
    wall = sum(o["wall_s"] for o in per_op)
    run = sum(o["operators.exec_run_s"] for o in per_op)
    metrics["operators.busy_frac"] = (run / (wall * cores) if wall else 0.0, "ratio")
    calls = sum(o["sources.sink_calls"] for o in per_op)
    acks = sum(o["sources.sink_acks"] for o in per_op)
    metrics["sources.sink_ack_ratio"] = (acks / calls if calls else 0.0, "ratio")
    return metrics


def report_ops(names, per_op) -> None:
    from stats import median

    for name in names:
        ops = [o for o in per_op if o["op"] == name]
        if not ops:
            continue
        row = {"n": len(ops)}
        for k in ("wall_s", *SUMMED, *PEAK):
            vals = [o[k] for o in ops]
            row[k] = round(median(vals), 4)
        say(f"layers {name}", json.dumps(row, sort_keys=True))


def emit(result: dict) -> None:
    metrics = {}
    for name, (value, unit) in result["metrics"].items():
        metrics[name] = {"value": value, "unit": unit}
        say(f"metric {name} = {value} {unit}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    # every temporary file of this run stays inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers unpickle the fake sink transport from this directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    bench = None
    # a run stopped by SIGTERM still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.path.insert(0, ROOT)
        try:
            import trello_github_etl_spark  # noqa: F401  the program under test
        except ImportError as e:
            print(f"perfbench: program under test not importable: {e}", file=sys.stderr)
            return 2
        from layers import RssSampler
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        bench = Bench(args, WORKLOADS[args.workload], work)
        with RssSampler() as rss:
            result = run_traced(bench) if args.trace else run_untraced(bench)
            bench.stop()
        if not args.trace:
            result["metrics"]["peak_rss_mb"] = (rss.peak_mb, "MB")
            say("peak rss: JVM %.0f MB, Python workers %.0f MB" % rss.peak_split)
        emit(result)
    finally:
        try:
            if bench is not None:
                bench.stop()
        except Exception as e:  # the JVM may be gone already
            print(f"perfbench: stopping the session failed: {e}", file=sys.stderr)
        finally:
            if bench is not None:
                stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it
    return 0


if __name__ == "__main__":
    sys.exit(main())
