"""Streaming-parity correctness: the applyInPandasWithState pipeline
must produce the same commit/abort verdicts as the pure-Python serial
oracle, end-to-end through the externalized feedback loop.

Kafka isn't available in this container, so the loop is file-coupled
(parquet dirs stand in for the four topics; the operator topology is
identical — SURVEY.md §3.1). The runner (streaming/replay_loop.py)
keeps two queries — key stage and txn stage — running on processingTime
triggers. ``run_streaming_replay`` drives them round by round: a
heartbeat (reference D14, core/HeartBeatGenerator.scala) so the
watermark advances and buffered event-time timers fire, then a drain of
each stage. ``run_streaming_replay_continuous`` lets them run and polls.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from streamy_db_spark import fixtures, oracle
from streamy_db_spark.engine_batch import replay
from streamy_db_spark.streaming import engine_stream as es
from streamy_db_spark.streaming import replay_loop as rl
from streamy_db_spark.streaming.replay_loop import (
    run_streaming_replay,
    run_streaming_replay_continuous,
    with_rocksdb,
    write_heartbeat,
)


@pytest.mark.parametrize("mix", ["ref_smoke", "cas_chain"])
def test_streaming_matches_serial_oracle(spark, tmp_path, mix):
    txns = fixtures.generate(mix)
    if mix == "cas_chain":  # keep the streaming loop fast: subset
        txns = txns[:120]
    expected_results, _ = oracle.serial_replay(txns)
    got = run_streaming_replay(spark, txns, str(tmp_path))
    assert got == expected_results


def test_streaming_conflicts_and_deletes(spark, tmp_path):
    txns = [
        fixtures_txn(0, 0, 0, "t1", [("a", None)], [("a", "1")]),
        fixtures_txn(1, 0, 1, "t2", [("a", None)], [("a", "2"), ("b", "2")]),
        fixtures_txn(2, 0, 2, "t3", [("a", "1"), ("b", None)], []),
        fixtures_txn(3, 0, 3, "t4", [("a", "1")], [("a", None)]),
        fixtures_txn(4, 0, 4, "t5", [("a", None)], [("a", "5")]),
    ]
    expected_results, _ = oracle.serial_replay(txns)
    assert expected_results == {
        "t1": True, "t2": False, "t3": True, "t4": True, "t5": True,
    }
    got = run_streaming_replay(spark, txns, str(tmp_path))
    assert got == expected_results


def test_streaming_duplicate_feedback_is_idempotent(spark, tmp_path):
    """Redelivered commit notifications (at-least-once output re-consumed
    as input) must not change verdicts or emit duplicates."""
    txns = [
        fixtures_txn(0, 0, 0, "t1", [("a", None)], [("a", "1")]),
        fixtures_txn(1, 0, 1, "t2", [("a", "1")], [("a", "2"), ("b", "9")]),
        fixtures_txn(2, 0, 2, "t3", [("a", "2"), ("b", "9")], []),
    ]
    expected, _ = oracle.serial_replay(txns)
    got = run_streaming_replay(
        spark, txns, str(tmp_path), duplicate_feedback=True
    )
    assert got == expected == {"t1": True, "t2": True, "t3": True}


def test_streaming_rocksdb_state_store(spark, tmp_path):
    """Parity under RocksDBStateStoreProvider — the deployment state store.

    HDFSBackedStateStore keeps every key's state in executor-heap maps;
    100 TB-scale keyed state (billions of cells) needs the RocksDB
    provider's off-heap, incrementally-checkpointed store. The provider is
    picked up per-query from the session conf at stream start, so the
    same file-coupled loop exercises the full applyInPandasWithState
    path (serde, timers, watermark flushes) against RocksDB."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    try:
        txns = [
            fixtures_txn(0, 0, 0, "t1", [("a", None)], [("a", "1")]),
            fixtures_txn(1, 0, 1, "t2", [("a", None)], [("a", "2"), ("b", "2")]),
            fixtures_txn(2, 0, 2, "t3", [("a", "1"), ("b", None)], []),
            fixtures_txn(3, 0, 3, "t4", [("a", "1")], [("a", None)]),
            fixtures_txn(4, 0, 4, "t5", [("a", None)], [("a", "5")]),
        ]
        expected, _ = oracle.serial_replay(txns)
        got = run_streaming_replay(spark, txns, str(tmp_path))
        assert got == expected
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def fixtures_txn(ts_s, part, off, tid, asserts, updates):
    from datetime import timedelta

    return {
        "ts": datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=ts_s),
        "kafka_partition": part,
        "kafka_offset": off,
        "transaction_id": tid,
        "asserts": asserts,
        "updates": updates,
    }


def test_tied_positions_break_by_transaction_id(spark, tmp_path):
    """A List[Transaction] record explodes into several transactions at
    one (ts, partition, offset) position (core/package.scala:22-50); the
    reference sorter runs them in transaction-id order
    (flink/StreamyDb.scala:44-49). Listed here in reverse id order with
    conflicting asserts, so list order and id order give different
    verdicts: the oracle, the batch replay and the streaming runner must
    all take id order."""
    txns = [
        fixtures_txn(0, 0, 0, "tx_c", [("a", None)], [("a", "C")]),
        fixtures_txn(0, 0, 0, "tx_b", [("a", "A")], [("b", "B")]),
        fixtures_txn(0, 0, 0, "tx_a", [("a", None)], [("a", "A")]),
        fixtures_txn(1, 0, 1, "tx_d", [("a", "A"), ("b", "B")], []),
    ]
    expected, expected_state = oracle.serial_replay(txns)
    assert expected == {"tx_a": True, "tx_b": True, "tx_c": False, "tx_d": True}
    assert expected_state == {"a": "A", "b": "B"}

    results_df, state_df = replay(fixtures.to_dataframe(spark, txns))
    assert {r["transaction_id"]: r["succeeded"] for r in results_df.collect()} == expected
    assert {r["key"]: r["value"] for r in state_df.collect()} == expected_state
    assert run_streaming_replay(spark, txns, str(tmp_path)) == expected


@pytest.mark.parametrize("policy", ["drain_per_round", "poll"])
def test_dead_query_is_raised_not_restarted(spark, monkeypatch, tmp_path, policy):
    """A stage whose micro-batch fails must surface as an error naming
    the stage and the cause, under both drive policies — never be
    restarted silently, never time out — and the teardown must leave no
    active query behind."""

    def failing_sink(d):
        def write(batch_df, batch_id):
            raise RuntimeError("injected sink failure")

        return write

    monkeypatch.setattr(rl, "_txn_fused_write", failing_sink)
    txns = [fixtures_txn(0, 0, 0, "t1", [("a", None)], [("a", "1")])]
    with pytest.raises(RuntimeError, match="txn_stage") as err:
        if policy == "poll":
            run_streaming_replay_continuous(
                spark, txns, str(tmp_path), timeout_s=120.0,
                trigger_interval="100 milliseconds", heartbeat_interval_s=0.3,
            )
        else:
            run_streaming_replay(spark, txns, str(tmp_path))
    assert "injected sink failure" in str(err.value)
    assert spark.streams.active == []


def test_streaming_kill_and_restart_exactly_once(spark, tmp_path):
    """The reference's central exactly-once claim under failure
    (flink/StreamyDb.scala:180-181: 5 s checkpointing): kill the key
    stage mid-round — after the sink committed a PARTIAL round's output
    (source throttled to 1 file/micro-batch, stop() after the first
    commit) — restart from the same checkpoint with the RocksDB provider
    on, and the final verdicts must still match the serial oracle with
    exactly one verdict per transaction."""
    txns = fixtures.generate("cas_chain")[:60]
    expected, _ = oracle.serial_replay(txns)
    with with_rocksdb(spark):
        got = run_streaming_replay(
            spark,
            txns,
            str(tmp_path),
            interrupt_rounds={0, 2},
            # Throttled ingestion is multi-batch: the delay must cover the
            # fixture's event-time span or late-row filtering eats the
            # backlog (see run_streaming_replay docstring).
            watermark_delay="1 hour",
        )
    assert got == expected


def test_streaming_state_drains_after_quiescence(spark, tmp_path):
    """The reference's Flink sorter leaks MapState (SURVEY §2.5); ours
    must not: after every verdict is out and the final feedback has been
    consumed, the key-stage state store holds no sorter buffers, no
    undecided lock-log entries, no parked reads, no early verdicts —
    only the cells (the database itself) plus the bounded redelivery
    rings — and the txn-stage store is completely empty."""
    txns = [
        fixtures_txn(0, 0, 0, "t1", [("a", None)], [("a", "1")]),
        fixtures_txn(1, 0, 1, "t2", [("a", None)], [("a", "2"), ("b", "2")]),
        fixtures_txn(2, 0, 2, "t3", [("a", "1"), ("b", None)], []),
        fixtures_txn(3, 0, 3, "t4", [("a", "1")], [("a", None)]),
        fixtures_txn(4, 0, 4, "t5", [("a", None)], [("a", "5")]),
    ]
    expected, _ = oracle.serial_replay(txns)
    got, d, requests_dir = run_streaming_replay(
        spark, txns, str(tmp_path), return_dirs=True
    )
    assert got == expected

    # One more key-stage run: consume the LAST round's feedback (the loop
    # breaks as soon as verdicts are complete, before feeding it back).
    write_heartbeat(spark, requests_dir, 20_000)
    reqs = spark.readStream.schema(es.KEY_MSG).option(
        "recursiveFileLookup", "true"
    ).parquet(requests_dir)
    fb = spark.readStream.schema(es.KEY_MSG).option(
        "recursiveFileLookup", "true"  # feedback lands in batch= subdirs (r10)
    ).parquet(d["feedback"])
    q = (
        es.key_stage(reqs.unionByName(fb))
        .writeStream.format("parquet")
        .option("path", d["read_results"])
        .option("checkpointLocation", os.path.join(d["ckpt"], "key_stage"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    key_state = (
        spark.read.format("statestore")
        .option("path", os.path.join(d["ckpt"], "key_stage"))
        .load()
        .collect()
    )
    assert key_state, "cells must survive quiescence (they ARE the database)"
    for r in key_state:
        v = r["value"]["groupState"]
        k = r["key"]["key"]
        assert not v["buffer"], f"sorter buffer leaked for {k}: {v['buffer']}"
        assert not v["entries"], f"undecided lock log for {k}: {v['entries']}"
        assert not v["parked"], f"parked reads leaked for {k}: {v['parked']}"
        assert not v["early"], f"early verdicts leaked for {k}: {v['early']}"
        assert len(v["recent"] or []) <= 128
        assert len(v["applied_ring"] or []) <= 256

    txn_state = (
        spark.read.format("statestore")
        .option("path", os.path.join(d["ckpt"], "txn_stage"))
        .load()
        .collect()
    )
    assert txn_state == [], f"txn-stage state leaked: {txn_state}"


def test_continuous_replay_matches_serial_oracle(spark, tmp_path):
    """The CONTINUOUS form of the loop (one start per query,
    processingTime triggers — the deployment shape bench.py records as
    protocol_stream_10k_continuous) must produce the same verdicts as
    the serial oracle: feedback flows through the directories with no
    per-round query restarts, heartbeats advance the watermark from a
    driver thread (reference D14 cadence)."""
    txns = fixtures.generate("ref_smoke")
    expected_results, _ = oracle.serial_replay(txns)
    stats: dict = {}
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    got = run_streaming_replay_continuous(
        spark, txns, str(tmp_path), timeout_s=300.0, stats=stats,
        # the bench's tuned state-partition sizing — parity must hold
        # under it, and the session conf must come back
        shuffle_partitions=8,
    )
    assert got == expected_results
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    # both queries actually cycled (continuous, not one-shot; feedback
    # derivation is fused into the txn stage's sink since r10)
    assert set(stats["batches"]) == {"key_stage", "txn_stage"}
    assert all(b is not None and b >= 1 for b in stats["batches"].values())


def test_heartbeat_arrow_schema_mirrors_key_msg(spark, tmp_path):
    """write_heartbeat writes driver-side with a pyarrow schema derived
    from engine_stream.KEY_MSG (no Spark job — see its docstring for the
    measured why). A heartbeat file must land atomically (no temp
    residue a trigger could half-list), round-trip under the Spark wire
    schema, and schema-INFER to exactly KEY_MSG's field names and types,
    so a KEY_MSG change the heartbeat row does not follow fails here, not
    as a mid-stream analysis error in a 10-minute replay."""
    req = str(tmp_path / "requests")
    write_heartbeat(spark, req, 7)
    files = os.listdir(req)
    # one visible file, uuid-suffixed (FileStreamSource dedups by path,
    # so a resumed run must never reuse a name), no temp residue
    assert len(files) == 1 and files[0].startswith("hb_7_")
    assert files[0].endswith(".parquet")

    df = spark.read.schema(es.KEY_MSG).parquet(req)
    rows = df.collect()
    assert len(rows) == 1
    row = rows[0]
    assert row["kind"] == es.KIND_HEARTBEAT
    assert row["transaction_id"] == "__hb__" and row["key"] == "__hb__"
    assert row["succeeded"] is None and row["value"] is None
    assert row["kafka_partition"] == -1 and row["kafka_offset"] == -1
    # ts and ts_ms agree (same instant, ms-truncated) — computed
    # Spark-side so driver-TZ naive-datetime conversion can't lie
    [delta_ms] = df.select(
        (F.col("ts").cast("double") * 1000 - F.col("ts_ms")).alias("d")
    ).collect()[0]
    assert abs(delta_ms) < 1000

    inferred = spark.read.parquet(req).schema
    assert [f.name for f in inferred] == [f.name for f in es.KEY_MSG]
    assert [f.dataType for f in inferred] == [f.dataType for f in es.KEY_MSG]


def test_raw_result_rows_footer_poll(spark, tmp_path):
    """_raw_result_rows counts sink rows from parquet footers with no
    Spark job: 0 for an absent dir, exact count for a committed sink,
    and the file sink's _spark_metadata commit log (non-parquet text
    files) must be skipped by pyarrow's default ignore_prefixes."""
    from streamy_db_spark.streaming.replay_loop import _raw_result_rows

    d = str(tmp_path / "results")
    assert _raw_result_rows(d) == 0

    spark.range(5).coalesce(1).write.parquet(d)
    meta = os.path.join(d, "_spark_metadata")
    os.makedirs(meta)
    with open(os.path.join(meta, "0"), "w") as f:
        f.write('{"not": "parquet"}')
    assert _raw_result_rows(d) == 5

    # a truncated orphan part file (dead task attempt) must yield None
    # ("can't tell" — caller falls back to the Spark-side read), not 0
    # forever and not an exception
    with open(os.path.join(d, "part-orphan.parquet"), "wb") as f:
        f.write(b"PAR1 not really a parquet file")
    assert _raw_result_rows(d) is None


def test_shuffle_partitions_restored_when_setup_fails(
    spark, monkeypatch, tmp_path
):
    """The shuffle_partitions override must be released even when the
    run fails BEFORE the stream loop starts (fixture write failure,
    disk full): a leaked setting would silently run every subsequent
    query in the session at the replay's partition count (r9 review)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(*args, **kwargs):
        raise RuntimeError("setup failed")

    monkeypatch.setattr(rl, "_loop_dirs", boom)
    with pytest.raises(RuntimeError, match="setup failed"):
        rl.run_streaming_replay_continuous(
            spark, [], str(tmp_path / "c"), shuffle_partitions=7
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    with pytest.raises(RuntimeError, match="setup failed"):
        rl.run_streaming_replay(
            spark, [], str(tmp_path / "a"), shuffle_partitions=7
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_conf_override_restores_applied_keys_when_a_set_fails(spark):
    """A conf.set that raises partway through the dict (e.g. a static
    conf) must restore the keys already applied — otherwise the earlier
    keys leak into the session permanently (r9 second review)."""
    from streamy_db_spark.streaming.replay_loop import _conf_override

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(Exception):
        # dict order: the first key applies, the static second one raises
        with _conf_override(
            spark, {key: "3", "spark.sql.warehouse.dir": "/nope"}
        ):
            raise AssertionError("body must not run")  # pragma: no cover
    assert spark.conf.get(key) == before


def test_with_rocksdb_sets_and_restores_changelog_conf(spark):
    """with_rocksdb(changelog=True) turns on RocksDB changelog
    checkpointing for queries started inside and restores BOTH confs on
    exit; changelog=False keeps the snapshot-per-commit default."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    changelog_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    with with_rocksdb(spark):
        assert spark.conf.get(provider_key).endswith(
            "RocksDBStateStoreProvider"
        )
        assert spark.conf.get(changelog_key) == "true"
    # restored: back to the session defaults (the changelog key has no
    # registered default visible to conf.get, hence the fallback arg)
    assert "RocksDB" not in spark.conf.get(provider_key)
    assert (spark.conf.get(changelog_key, "unset") or "unset") != "true"

    with with_rocksdb(spark, changelog=False):
        assert spark.conf.get(provider_key).endswith(
            "RocksDBStateStoreProvider"
        )
        assert (spark.conf.get(changelog_key, "unset") or "unset") != "true"
    assert "RocksDB" not in spark.conf.get(provider_key)
