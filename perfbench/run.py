"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload db-session --seed 1 --seconds 15 --trace 0

Run it from the repository root. The process builds the workload's
inputs from the seed, starts a Spark session on ``local[<cores>]``, runs
the warm-up, then times whole operations for at least ``--seconds``
seconds and checks every output against the reference in
``reference.py``. With ``--trace 1`` it times the same operations twice,
first untraced and then traced, and reports the per-layer metrics of the
traced half (see README.md). Everything it writes goes under
``perfbench/_runs/`` and is removed at exit, except the traced run's
span file. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_HEAP = "1g"
# Operations run and checked before timing starts: the first passes in
# a fresh JVM run 25-50 % slower (class loading, code generation, JIT).
WARM_OPS = {"db-session": 6, "replay-contended": 4}
JOB_GROUP = "perfbench-traced"

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "items/s", "op_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "db.to_log_s": "s", "db.replay_s": "s", "db.finish_s": "s", "db.state_keys": "count",
    "engine_batch.rounds": "count", "engine_batch.checkpoints": "count",
    "engine_batch.checkpoint_s": "s", "engine_batch.tail_fold_s": "s",
    "engine_batch.tail_fold_rows": "count", "engine_batch.tail_fold_txns": "count",
    "session.release_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s", "spark.jvm_gc_s": "s",
    "spark.driver_only_s": "s",
    "trace.overhead_pct": "%",
}
# Layers that only the workloads outside BENCHMARK.json exercise; their
# traced runs print these as well (see README.md).
EXTRA_UNITS = {
    "stream-continuous": {
        **{f"stream.{k}.{q}": u for q in ("key_stage", "txn_stage") for k, u in (
            ("batches", "count"), ("empty_batches", "count"), ("trigger_s", "s"),
            ("add_batch_s", "s"), ("commit_s", "s"), ("state_commit_s", "s"),
            ("state_rows", "count"), ("state_memory_bytes", "bytes"),
            ("input_rows", "count"))},
        "stream.idle_s": "s",
    },
    "near-dedup-ingest": {
        "incremental.process_batch_s": "s", "incremental.compact_s": "s",
        "incremental.probe_files_read": "count", "incremental.probe_files_total": "count",
        "incremental.rejected": "count", "incremental.state_files": "count",
    },
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and of every
    process below it (the JVM and its Python workers)."""
    parts = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:  # a zombie has none
            parts[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    print("perfbench: peak RSS MB " + " ".join(f"{k}={v:.0f}" for k, v in parts.items()),
          file=sys.stderr)
    return sum(parts.values())


def configure_environment(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory, size the session, and (traced) turn on the event log."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # Every JVM, the launcher's too: temp files in the run directory and
    # no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        # A fixed, pre-touched heap: how far the JVM grows an elastic heap
        # varies by up to a fifth from run to run, which would swamp
        # peak_rss_mb.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR


class Ops:
    def __init__(self):
        self.durations: list[float] = []
        self.rates: list[float] = []
        self.windows_ms: list[tuple[float, float]] = []


class Phase:
    """Whole operations, timed one by one, until ``seconds`` have been
    spent inside them; each output is checked after its timing ends.

    With ``tracing`` (a ``Tracing``), operations alternate untraced and
    traced until each kind has had ``seconds``, so that the JVM's
    continuing warm-up does not pass for tracing overhead."""

    def __init__(self, workload, seconds: float, tracing=None):
        self.plain, self.traced = Ops(), Ops()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        while (not self.plain.durations or sum(self.plain.durations) < seconds
               or tracing and sum(self.traced.durations) < seconds):
            traced = tracing is not None and len(self.plain.durations) > len(self.traced.durations)
            ops = self.traced if traced else self.plain
            if traced:
                tracing.on()
            wall0 = time.time()
            t0 = time.perf_counter()
            items, out = workload.op()
            dt = time.perf_counter() - t0
            ops.windows_ms.append((wall0 * 1000, time.time() * 1000))
            ops.durations.append(dt)
            ops.rates.append(items / dt)
            if traced:
                tracing.off()
                workload.after_op(tracing.tracer, out)
            attempted, failed, problems = workload.check(out)
            self.attempted += attempted
            self.failed += failed
            self.problems += problems


class Tracing:
    """Switches the traced mode's spans, stream listener and job group
    on for one operation and off again."""

    def __init__(self, spark, workload):
        from tracing import Tracer, make_stream_listener

        self.spark = spark
        self.workload = workload
        self.tracer = Tracer()
        self.listener = make_stream_listener()

    def on(self):
        self.workload.trace(self.tracer)
        self.spark.streams.addListener(self.listener)
        self.spark.sparkContext.setJobGroup(JOB_GROUP, "perfbench traced operation")

    def off(self):
        self.spark.sparkContext.setJobGroup("perfbench", "perfbench operation")
        self.spark.streams.removeListener(self.listener)
        self.tracer.restore()


def layer_metrics(tracer, ops, spark_totals, stream) -> dict:
    n = len(ops.durations)
    m = dict.fromkeys([*PER_LAYER_UNITS, *(k for e in EXTRA_UNITS.values() for k in e)], 0.0)
    for span in ("db.to_log", "db.replay", "engine_batch.checkpoint",
                 "engine_batch.tail_fold", "session.release"):
        m[f"{span}_s"] = tracer.total(span) / n
    m["db.finish_s"] = (tracer.total("db.execute") - tracer.total("db.to_log")
                        - tracer.total("db.replay")) / n
    m["engine_batch.checkpoints"] = sum(
        s["name"] == "engine_batch.checkpoint" for s in tracer.spans) / n
    for name, v in tracer.counts.items():
        m[name] = v / n
    for name in ("incremental.process_batch", "incremental.compact"):
        calls = [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]
        m[f"{name}_s"] = statistics.median(calls) if calls else 0.0
    for k, v in spark_totals.items():
        if f"spark.{k}" in m:
            m[f"spark.{k}"] = v / n
    for k, v in stream.items():
        keep_max = k.startswith(("state_rows", "state_memory_bytes"))
        m[f"stream.{k}"] = v if keep_max else v / n
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import streamy_db_spark.session  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    runs = os.path.join(HERE, "_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(run_dir, trace)
    try:
        return run(args, trace, run_dir, runs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, trace: bool, run_dir: str, runs: str) -> int:
    import workloads
    from streamy_db_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir)
        warm = [Phase(w, 0) for _ in range(WARM_OPS.get(args.workload, 1))]
        setup_s = process_age_s()
        tracing = Tracing(spark, w) if trace else None
        timed = Phase(w, args.seconds, tracing)
        if trace:
            tracked = len(spark.sparkContext.statusTracker().getJobIdsForGroup(JOB_GROUP))
        final_problems = w.finish()
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    attempted = sum(p.attempted for p in [*warm, timed])
    failed = sum(p.failed for p in [*warm, timed])
    problems = [q for p in [*warm, timed] for q in p.problems] + final_problems
    if trace:
        from tracing import read_event_log, summarize_stream

        traced = timed.traced
        totals = read_event_log(os.path.join(run_dir, "events"), traced.windows_ms, JOB_GROUP)
        if totals["group_jobs"] != tracked:
            problems.append(f"event log has {totals['group_jobs']} jobs in the traced "
                            f"group, statusTracker {tracked}")
        if totals["executor_run_s"] > CORES * sum(traced.durations):
            problems.append(f"executor run time {totals['executor_run_s']:.1f} s exceeds "
                            f"{CORES} cores x {sum(traced.durations):.1f} s")
        metrics = layer_metrics(
            tracing.tracer, traced, totals,
            summarize_stream(tracing.listener.progress, traced.windows_ms))
        metrics["trace.overhead_pct"] = 100 * (
            statistics.median(traced.durations) / statistics.median(timed.plain.durations) - 1)
        units = {**PER_LAYER_UNITS, **EXTRA_UNITS.get(args.workload, {})}
        tracing.tracer.dump(
            os.path.join(runs, f"spans-{args.workload}-{args.seed}-{os.getpid()}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "items_per_s": statistics.median(timed.plain.rates),
            "op_p50_s": statistics.median(timed.plain.durations),
            "peak_rss_mb": rss,
        }
        units = END_TO_END_UNITS
    print("perfbench: operation seconds, warm-up "
          + " ".join(f"{d:.3f}" for p in warm for d in p.plain.durations)
          + ", timed " + " ".join(f"{d:.3f}" for d in timed.plain.durations),
          file=sys.stderr)
    correct = failed == 0 and not problems
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    # A terminated run still stops Spark and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, print no result
        traceback.print_exc()
        sys.exit(1)
