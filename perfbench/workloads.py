"""The benchmark's workloads.

Each workload builds its inputs from the seed when it is constructed,
then offers ``op()``, one timed operation that returns how many items
(transactions or documents) it decided and its output, and
``check(output)``, which compares that output with the reference and
returns ``(attempted, failed, problems)``. The optional ``finish()``
makes the checks that need the whole run, ``trace(tracer)`` rebinds the
program names whose calls the traced mode records, and
``after_op(tracer, out)`` records counts after a traced operation.
"""

from __future__ import annotations

import os
import random
import shutil

import gen
import reference
from reference import serial_fold, serial_key


class Workload:
    """Defaults for the optional hooks."""

    def finish(self) -> list[str]:
        return []

    def trace(self, tracer) -> None:
        pass

    def after_op(self, tracer, out) -> None:
        pass


def _frame(spark, log):
    from streamy_db_spark import schemas

    rows = [
        (t["ts"], t["kafka_partition"], t["kafka_offset"], t["transaction_id"],
         t["asserts"], t["updates"])
        for t in log
    ]
    return spark.createDataFrame(rows, schemas.TRANSACTION_LOG)


def _trace_engine(tracer):
    """Spans around the calls ``engine_batch.replay`` makes into its
    checkpoint helper, its driver-side tail fold and the session's
    checkpoint release (bound by name in both modules)."""
    from streamy_db_spark import engine_batch, session

    tracer.wrap(engine_batch, "checkpoint_preserving", "engine_batch.checkpoint")
    tracer.wrap(
        engine_batch, "_serial_tail_fold", "engine_batch.tail_fold",
        after=lambda a, kw, r: (tracer.count("engine_batch.tail_fold_rows", len(a[0])),
                                tracer.count("engine_batch.tail_fold_txns", len(r))),
    )
    tracer.wrap(engine_batch, "release_local_checkpoints", "session.release")
    tracer.wrap(session, "release_local_checkpoints", "session.release")


class ReplayContended(Workload):
    """One ``engine_batch.replay`` of a contended log per operation,
    with both outputs materialized on the driver."""

    N_TXNS = 4_000
    KEYSPACE = 4_000
    # The tail fold takes over once the undecided rows fit this budget:
    # scaled with the log so the replay runs several wavefront rounds
    # before the fold, as a log of ~150k transactions does under
    # ``replay``'s defaults.
    TAIL_MAX_ROWS = 16_000
    TAIL_MIN_TXNS = 100

    def __init__(self, spark, seed, run_dir):
        self.log = gen.contended_log(seed, self.N_TXNS, self.KEYSPACE)
        self.expected, self.expected_state = serial_fold(sorted(self.log, key=serial_key))
        self.df = _frame(spark, self.log).cache()
        self.df.count()
        self.stats: dict = {}

    def op(self):
        from streamy_db_spark import engine_batch, session

        stats: dict = {}
        results, state = engine_batch.replay(
            self.df,
            tail_collapse_txns=self.TAIL_MIN_TXNS,
            tail_collapse_max_rows=self.TAIL_MAX_ROWS,
            stats=stats,
        )
        verdicts = {r["transaction_id"]: r["succeeded"] for r in results.collect()}
        final = {r["key"]: r["value"] for r in state.collect()}
        session.release_local_checkpoints(results)
        session.release_local_checkpoints(state)
        self.stats = stats
        return len(verdicts), (verdicts, final)

    def check(self, out):
        verdicts, final = out
        failed, problems = reference.check_verdicts(self.expected, verdicts)
        return len(self.expected), failed, problems + reference.check_state(
            self.expected_state, final)

    def trace(self, tracer):
        _trace_engine(tracer)

    def after_op(self, tracer, out):
        tracer.count("engine_batch.rounds", self.stats.get("rounds", 0))


class DbSession(Workload):
    """One client calling ``StreamyDB.execute`` with check-and-set
    batches against the state left by its earlier calls, starting from a
    seeded store of ``INITIAL_KEYS`` keys."""

    BATCH = 1_000
    KEYSPACE = 200_000
    INITIAL_KEYS = 20_000

    def __init__(self, spark, seed, run_dir):
        from streamy_db_spark import schemas
        from streamy_db_spark.db import StreamyDB

        self.seed = seed
        self.calls = 0
        rng = random.Random(seed)
        self.state = {
            f"k{i:07d}": f"v{rng.randrange(3)}"
            for i in rng.sample(range(self.KEYSPACE), self.INITIAL_KEYS)
        }
        init = spark.createDataFrame(sorted(self.state.items()), schemas.KV_STATE)
        self.db = StreamyDB(spark, init.localCheckpoint(eager=True))
        self.expected: dict = {}

    def op(self):
        # Call i of seed s gets the same batch in every run.
        batch = gen.cas_batches(
            self.seed * 100_003 + self.calls, 1, self.BATCH, self.KEYSPACE)[0]
        self.expected, self.state = serial_fold(batch, self.state)
        self.calls += 1
        verdicts = self.db.execute(batch)
        return len(verdicts), verdicts

    def check(self, verdicts):
        failed, problems = reference.check_verdicts(self.expected, verdicts)
        return len(self.expected), failed, problems

    def finish(self):
        got = {r["key"]: r["value"] for r in self.db.state_df().collect()}
        return reference.check_state(self.state, got)

    def trace(self, tracer):
        from streamy_db_spark import db

        _trace_engine(tracer)
        tracer.wrap(db.StreamyDB, "_to_log", "db.to_log")

        orig_replay = db.replay

        def replay_with_stats(*args, **kwargs):
            stats = kwargs.setdefault("stats", {})
            with tracer.span("db.replay"):
                out = orig_replay(*args, **kwargs)
            tracer.count("engine_batch.rounds", stats.get("rounds", 0))
            return out

        tracer.patch(db, "replay", replay_with_stats)
        tracer.wrap(db.StreamyDB, "execute", "db.execute")

    def after_op(self, tracer, out):
        tracer.count("db.state_keys", len(self.state))


class StreamContinuous(Workload):
    """One ``run_streaming_replay_continuous`` under ``with_rocksdb`` per
    operation, in a fresh set of directories."""

    N_TXNS = 200
    KEYSPACE = 50_000
    # Benchmark-side stream settings (the library defaults are sized for
    # production): one state partition per core, 100 ms triggers and
    # 0.3 s heartbeats.
    TRIGGER = "100 milliseconds"
    HEARTBEAT_S = 0.3
    TIMEOUT_S = 120.0

    def __init__(self, spark, seed, run_dir):
        self.spark = spark
        self.run_dir = run_dir
        self.log = gen.sparse_log(seed, self.N_TXNS, self.KEYSPACE)
        self.expected, _ = serial_fold(sorted(self.log, key=serial_key))
        self.n = 0

    def op(self):
        from streamy_db_spark.streaming.replay_loop import (
            run_streaming_replay_continuous,
            with_rocksdb,
        )

        self.n += 1
        tmp = os.path.join(self.run_dir, f"stream{self.n}")
        try:
            with with_rocksdb(self.spark):
                verdicts = run_streaming_replay_continuous(
                    self.spark, self.log, tmp,
                    timeout_s=self.TIMEOUT_S,
                    trigger_interval=self.TRIGGER,
                    heartbeat_interval_s=self.HEARTBEAT_S,
                    shuffle_partitions=self.spark.sparkContext.defaultParallelism,
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return len(verdicts), verdicts

    def check(self, verdicts):
        failed, problems = reference.check_verdicts(self.expected, verdicts)
        return len(self.expected), failed, problems



class NearDedupIngest(Workload):
    """One operation is a whole ingest round: a fresh
    ``IncrementalNearDeduper`` takes the seeded corpus batch by batch,
    with ``compact_state`` after every ``COMPACT_EVERY`` batches."""

    N_DOCS = 1_200
    N_BATCHES = 4
    COMPACT_EVERY = 2
    # Compaction writes at least this many bands/ files, so the next
    # probe has an index to prune with (the gate prunes from 4 files).
    BANDS_FILES = 8

    def __init__(self, spark, seed, run_dir):
        self.spark = spark
        self.run_dir = run_dir
        self.batches = gen.cut_batches(gen.documents(seed, self.N_DOCS), self.N_BATCHES)
        self.n_docs = sum(len(b) for b in self.batches)
        self.n = 0

    def op(self):
        from streamy_db_spark.operators.incremental import IncrementalNearDeduper

        self.n += 1
        state_dir = os.path.join(self.run_dir, f"dedup{self.n}")
        gate = IncrementalNearDeduper(self.spark, state_dir)
        admitted = []
        for i, rows in enumerate(self.batches):
            df = self.spark.createDataFrame(rows, "doc_id long, text string")
            out = gate.process_batch(df, batch_id=i)
            admitted.append([r["doc_id"] for r in out.select("doc_id").collect()])
            if (i + 1) % self.COMPACT_EVERY == 0 and i + 1 < len(self.batches):
                gate.compact_state(force=True, bands_min_files=self.BANDS_FILES)
        return self.n_docs, (admitted, state_dir)

    def check(self, out):
        import pyarrow.dataset as ds

        admitted, state_dir = out
        ids = ds.dataset(os.path.join(state_dir, "ids"), format="parquet").to_table(
            columns=["doc_id"]).column("doc_id").to_pylist()
        shutil.rmtree(state_dir, ignore_errors=True)
        failed, problems = reference.check_dedup(self.batches, admitted, ids)
        return self.n_docs, failed, problems

    def trace(self, tracer):
        from streamy_db_spark.operators.incremental import IncrementalNearDeduper as gate

        def probe_scan(args, kwargs, result):
            scan = args[0].last_probe_scan or {}
            tracer.count("incremental.probe_files_read", scan.get("files_read", 0))
            tracer.count("incremental.probe_files_total", scan.get("files_total", 0))

        tracer.wrap(gate, "process_batch", "incremental.process_batch", after=probe_scan)
        tracer.wrap(gate, "compact_state", "incremental.compact")

    def after_op(self, tracer, out):
        admitted, state_dir = out
        tracer.count("incremental.rejected", self.n_docs - sum(len(a) for a in admitted))
        tracer.count("incremental.state_files", sum(
            f.endswith(".parquet") for _, _, fs in os.walk(state_dir) for f in fs))


WORKLOADS = {
    "replay-contended": ReplayContended,
    "db-session": DbSession,
    "stream-continuous": StreamContinuous,
    "near-dedup-ingest": NearDedupIngest,
}
