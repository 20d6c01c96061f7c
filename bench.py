#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus the batch
transaction-protocol replay at 10k/100k/1M transactions (the engine's
headline capability), the STREAMING replay at 10k (file-coupled loop,
RocksDB state store), the end-to-end corpus build
(pipeline.build_corpus), and a per-query DuckDB timing of the same
oracle SQL (informational side-by-side column), and prints ONE JSON
line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over all queries (the driver compares it
against BASELINE.md round over round). Per-query seconds let us see which
plan regressed. Each query is forced with a full-materialization noop-sink
write (see _force — r10 basis change: count() let Catalyst prune
pure-projection work) so the measured time is the full job, not plan
construction.

Regression gates (exit 1, so a bad round fails loudly instead of needing
judge archaeology):
- any per-query error ⇒ headline ``value`` is null (a partial total would
  otherwise read as a speedup) and rc != 0;
- any query breaching its pinned budget (~2× its r4/r5 measurement,
  BUDGETS below, scaled by the run's measured machine-slowdown factor
  so uniform shared-VM noise doesn't trip the gate) AFTER a one-shot
  retry judged on min(first, retry) — bursty noise windows and one-time
  cold compiles don't reproduce on retry, genuine plan regressions do
  (see retry_breaches) ⇒ rc != 0 with the persisting breaches listed.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-query wall-clock budgets in seconds at sf0.1 on local[32]: pinned
# at ~2× the r4 bench (BENCH_r04.json) so a >2× regression exits nonzero.
# New queries get budgets from their first measured round. Only applied
# when benching the standard sf0.1 dir on >=16 cpus — other SFs/machines
# have different baselines. A 1.0 s floor (applied below) keeps
# sub-second queries' scheduler noise (~±0.3 s) from tripping the gate;
# the budgets guard order-of-magnitude plan regressions, not jitter.
BUDGETS = {
    "q_agg_tpch_pricing": 2.7,
    "q_ann_ivf": 10.0,
    "q_ann_lsh": 6.3,
    "q_array_funcs": 0.7,
    "q_asof_join": 1.6,  # +noop output materialization headroom (r10 basis)
    "q_bool_and": 0.9,
    "q_collect_list": 1.2,
    "q_conditional_agg": 0.9,
    "q_date_agg": 1.1,
    "q_dedup_events": 1.8,
    "q_dedup_exact": 4.1,
    "q_dedup_groups": 9.8,
    "q_dedup_near_lsh": 3.0,  # measured 1.1-2.3 run-to-run; headroom for the Arrow path
    "q_distinct_agg": 0.6,
    "q_embedding_knn": 1.0,
    "q_follow_join": 1.1,
    "q_groupby_count": 1.2,
    "q_grouping_sets": 1.7,
    "q_join_3way": 2.9,
    "q_join_txn_reads": 1.9,
    "q_json_funcs": 2.0,  # re-pinned r10 noop basis (0.8-1.2 s real)
    "q_knn_batch": 1.9,
    "q_last_write_wins": 1.1,
    "q_media_features": 2.0,
    "q_media_frames": 1.4,
    "q_outer_join": 1.2,
    "q_pivot": 0.5,
    "q_range_join": 0.8,
    "q_resize_media": 3.0,
    "q_decontaminate": 8.0,  # re-pinned r10 noop basis (3.6-4.6 s real; count pruned the verdict projection)
    "q_scalar_subquery": 1.0,
    "q_scan_filter_project": 0.6,
    "q_semi_anti_join": 1.2,
    "q_serial_order": 0.4,
    "q_sessionize": 1.4,
    "q_set_ops": 1.5,
    # r10 rotation: q_minhash_lsh_pairs / q_simhash / q_simhash64 /
    # q_simhash_neardup left the driver sweep (test registry); the
    # production capped variants + the two r9 dedup families entered.
    # New budgets pinned at ~2x their first r10 local measurements.
    "q_simhash64_neardup_capped": 10.0,  # measured 4.8-5.1 s warm (fingerprint fold dominates)
    # q_semantic_dedup re-pinned after the r10 noop-basis change: under
    # count() Catalyst ELIMINATED the left join against the drop set
    # (unique right key), so the O(B^2) per-cluster scoring was never
    # executed — 0.9 s by count vs 11.6-13.2 s real.
    "q_semantic_dedup": 11.0,  # K=32 seeds (see SEMANTIC_SEED_K): 4.9-5.1 s warm
    "q_dedup_substrings": 12.0,          # measured 5.8-7.3 s (eager span materialization included)
    "q_sketch_aggs": 0.6,
    "q_stats_agg": 5.0,  # re-pinned r10 noop basis: count() pruned the stddev/corr agg exprs themselves (2.3-3.3 s real)
    "q_string_funcs": 0.4,
    "q_text_analysis": 0.5,
    "q_merge_upsert": 2.2,  # ~2x its r5 measurement
    "q_topk_orders": 0.6,
    "q_tpch_q5": 2.4,
    "q_union_merge": 0.9,
    "q_window_events": 1.0,
    "q_window_funcs": 0.5,
    "protocol_replay_10k": 14.0,
    # Replay budgets re-pinned r8 to ~2x the best driver-recorded clean
    # run (r7: 23.9 s / 66.8 s) — the old 60/220 values would have
    # passed a genuine 2.5-3x regression (r6/r7 verdict item).
    "protocol_replay_100k": 50.0,
    # 1M context PINNED in r10 (r9 verdict item 6): the in-sweep number
    # swung 34.8-230 s with sweep order / page cache while standalone
    # cold runs were stable (294.9-301.1 s in r9's controlled A/B,
    # BASELINE.md §6), so the bench now runs the 1M replay FIRST —
    # session-cold, before any warmup — and gates on that reproducible
    # basis. Re-pinned r11 to 2x the r10 cold band (77.2-108.7 s over
    # four runs, ±7%) — the old 600 s predated the r10 cold-context
    # speedup and would have passed a 5x regression silently (r10
    # verdict item 2). An in-session retry is warm by construction and
    # would void the cold gate, so a breach instead triggers ONE
    # fresh-subprocess cold rerun (r10 advice: without any recourse a
    # single VM contention spike fails the whole round) — see rerun().
    "protocol_replay_1m": 220.0,
    # Streaming replay (file-coupled loop, RocksDB provider), r9 TUNED:
    # state partitions sized to the fixture (8, not the session's 32)
    # and RocksDB changelog checkpointing on — each state commit now
    # persists a per-batch delta instead of a synchronous full snapshot
    # (the instrumented untuned run measured ~1.45 s/partition-commit,
    # the dominant per-trigger cost). Untuned r8 band was 155.6-318.5 s;
    # tuned r9 band 77.7-116.0 s; r10 (fused feedback sink) band
    # 83.6-106.4 s. Re-pinned r11 to 2x the r10 band's slow end (the
    # 2x-band discipline, r10 verdict item 2).
    "protocol_stream_10k": 215.0,
    # CONTINUOUSLY-RUNNING form of the same loop (one start per query,
    # processingTime triggers — the deployment shape; r8 verdict item
    # 2): tuned r9 band 69.8-140.3 s / 71-143 txn/s (38-42 micro-batches
    # per query; the sequential feedback-round depth ~13 × per-hop
    # trigger latency dominates, NOT restarts — with state commits
    # cheap the two forms measure within ~20% of each other, and the
    # full-bench run had continuous FASTER than availableNow).
    # Re-pinned r11 to 2x the slow end of the r10 fused-sink band
    # (66.9-72.8 s over three runs; the 280 s pin was 2x the PRE-fusion
    # r9 band and would have passed a ~2x regression).
    "protocol_stream_10k_continuous": 150.0,
    # End-to-end corpus build at sf0.1 (pipeline.build_corpus): warm
    # band r8 24.6-33.2 s; budget re-pinned r9 to ~2x the warm band's
    # slow end now that the bench warms the build's plan shapes (the
    # r8 driver first-run 75.8 s breach was cold-start, and the budget
    # should catch regressions of the WARM cost).
    "corpus_build": 75.0,
    # Full variant (SemDeDup + ExactSubstr stages ON): pinned r10 at
    # ~2x its first warm driver-context measurement (27.3 s).
    "corpus_build_full": 60.0,
    # Streaming dedup-sink ingest (r10 verdict item 5), 10k rows through
    # a real availableNow file-source query (8 triggers). Pinned r11 at
    # ~2x the measured warm bands: near 59.7-66.8 s (150-168 docs/s),
    # semantic 21.9-50.8 s (the slow end is one-time plan compile; 457
    # docs/s warm), substr 39.9-46.2 s (217-250 docs/s).
    "stream_dedup_near_10k": 135.0,
    "stream_dedup_semantic_10k": 100.0,
    "stream_dedup_substr_10k": 95.0,
    # Steady-state regime (r11 verdict item 4; 50k docs / 5 triggers):
    # pinned r12 at ~2x the first measurements — near 171.9 s (290.9
    # docs/s), semantic 83.8 s (596.8), substr 117.7 s (424.9).
    "stream_dedup_near_steady": 350.0,
    "stream_dedup_semantic_steady": 170.0,
    "stream_dedup_substr_steady": 240.0,
    # Incremental corpus build (r11 verdict item 6; 4 waves + publish):
    # pinned r12 at ~2x the 109.0/117.8 s first measurements.
    "corpus_build_incremental": 240.0,
    "q_minhash_lsh_pairs_capped": 10.0,  # shares the q_minhash_lsh_pairs pipeline shape
    "q_pack_sequences": 2.0,
    "q_profile_orders": 3.0,  # 4 exact count_distincts => Expand x5; measured 1.5 s
    "q_train_test_split": 1.5,
}
BUDGETS = {k: max(v, 1.0) for k, v in BUDGETS.items()}


def budget_breaches(
    checked: dict[str, float],
    budgets: dict[str, float],
    min_ratios: int = 8,
    max_slowdown: float = 3.0,
    scale_floor: float = 1.0,
) -> tuple[float, dict[str, dict[str, float]]]:
    """(machine_slowdown, breaches) for a set of measured timings.

    Noise normalization: this host is a shared VM, and whole runs
    measure 2-3x slower when a noisy neighbor lands (observed r5:
    back-to-back clean runs at 47 s and 60 s with IDENTICAL code). A
    per-query gate must therefore judge each query RELATIVE to how fast
    the machine ran this time, or global noise trips dozens of budgets
    while a genuine single-plan regression hides in the noise floor.
    budget_q ~= 2 x t_q(baseline), so on a uniformly s-times-slower
    machine the median of sec/budget is s/2; scaling every budget by
    max(1, 2*median) restores the intended "2x slower than baseline,
    machine-relative" meaning. Queries whose budget sits AT the 1.0 s
    floor (``scale_floor``) are excluded from the median: their budget
    is scheduler-noise headroom, not 2x a baseline, so their ratios
    systematically bias the estimate low and the scale under-corrects
    under real uniform noise (r7 verdict item 2). They remain subject
    to the breach check itself.

    Guard rails (r5 advice): the scale only kicks in with at least
    ``min_ratios`` checked queries — with very few, one slow query
    would scale its own budget and could never breach — and is capped
    at ``max_slowdown`` so a correlated REAL regression (a conf/codegen
    change slowing half the registry) cannot disguise itself as
    unbounded machine noise. Bursty (non-uniform) noise that the median
    cannot see is handled one level up by retry_breaches()."""
    ratios = sorted(
        sec / budgets[name]
        for name, sec in checked.items()
        if name in budgets and budgets[name] > scale_floor
    )
    slowdown = 1.0
    if len(ratios) >= min_ratios:
        median = ratios[len(ratios) // 2]
        slowdown = min(max(1.0, round(2 * median, 3)), max_slowdown)
    breaches = {
        name: {
            "sec": sec,
            "budget": budgets[name],
            "effective_budget": round(budgets[name] * slowdown, 2),
        }
        for name, sec in checked.items()
        if name in budgets and sec > budgets[name] * slowdown
    }
    return slowdown, breaches


def retry_breaches(
    timings: dict[str, float],
    budgets: dict[str, float],
    rerun,
    **gate_kwargs,
) -> tuple[float, dict[str, dict[str, float]], dict[str, dict[str, float]]]:
    """Burst-robust budget gate: re-measure each breaching query once
    and judge it on min(first, retry).

    Why: the median-slowdown normalization above handles UNIFORM noise,
    but a noise burst covering a contiguous block of the run (r5: 13 of
    51 queries breached, everything before/after at full speed, median
    clean) leaves machine_slowdown at 1.0 while healthy queries breach.
    A genuine plan regression reproduces on the retry; a noise burst —
    or a one-time session-cold plan compile landing on whichever query
    runs first — does not. ``rerun(name) -> seconds`` re-executes one
    query; queries it cannot re-execute (returns None) keep their first
    timing. Retried minima are written back into ``timings`` (in place)
    so the headline total reflects steady-state, and both measurements
    are returned for the record.

    Returns (machine_slowdown, breaches, retried) where retried maps
    each retried query to {"first": s, "retry": s}.

    Runs to a FIXPOINT: writing retry minima back can LOWER the
    recomputed machine_slowdown, which may expose queries that passed
    the first gate only because noise elsewhere inflated the scale — a
    genuinely regressed query hiding under that umbrella. Every query
    that breaches under any iteration's slowdown gets exactly one
    retry; the loop ends when no un-retried breach remains, so the
    final breach set contains only queries that persisted across their
    own retry (no false failure without a retry, no false pass without
    a re-measure — r6 review, both directions)."""
    retried: dict[str, dict[str, float]] = {}
    attempted: set[str] = set()
    while True:
        slowdown, breaches = budget_breaches(timings, budgets, **gate_kwargs)
        pending = sorted(set(breaches) - attempted)
        if not pending:
            return slowdown, breaches, retried
        for name in pending:
            attempted.add(name)
            t_retry = rerun(name)
            if t_retry is None:
                continue
            t_retry = round(t_retry, 3)
            retried[name] = {"first": timings[name], "retry": t_retry}
            timings[name] = min(timings[name], t_retry)


def _cache_rewarms(spark, sf_dir: str) -> dict:
    """Retry basis for cache-sharing queries (r7 verdict item 2, r6
    advice). In the standard sorted() run order each of these is FIRST
    timed with a DEFINED cache state: q_dedup_groups pays the
    sketch→pairs pipeline cold (alphabetically-first consumer), and
    q_minhash_lsh_pairs_capped pays only the capped candidate pass over
    a warm sketch. A breach retry purges the memo caches (a cache-hit
    retry would void the gate), which silently flipped the warm-based
    queries to COLD — a pure-noise breach then re-paid pipeline work its
    budget never included and could sustain a false rc!=0. Fix: after
    the purge, re-warm each query's declared basis UNTIMED (this map),
    then time the query. q_dedup_groups is deliberately absent — its
    basis IS cold, so purge-only is the faithful retry. (The uncapped
    q_minhash_lsh_pairs rotated to the test registry in r10; its rewarm
    entry left with it.)"""
    from streamy_db_spark.operators import minhash

    return {
        "q_minhash_lsh_pairs_capped": lambda: minhash.sketch_table_cached(
            spark, sf_dir
        ),
    }


def timed_retry_with_basis(purge, rewarm, timed_run) -> float:
    """One budget-gate retry on a reproduced cache basis: ``purge()``
    (always — a cache-hit retry clears any breach and voids the gate),
    then ``rewarm()`` UNTIMED when the query's first-pass basis was
    warm, then time ``timed_run()`` alone. Factored out of rerun() so
    tests can pin the order and the timing boundary without Spark."""
    purge()
    if rewarm is not None:
        rewarm()
    t0 = time.perf_counter()
    timed_run()
    return time.perf_counter() - t0


def _force(df) -> None:
    """Materialize EVERY column of a query result (r10 basis change).

    The old ``df.count()`` force let Catalyst PRUNE pure-projection
    work: a count over a projection-only plan drops the projected
    columns entirely, so the measured time was scan+count, not the
    query — q_text_analysis measured 0.21 s by count vs 4.4 s real at
    sf0.001, and the 64-bit simhash fold (~35 s of real work at sf0.1
    pre-optimization) was invisible. Queries ending in aggregates,
    joins or explodes were unaffected (count can't prune through
    them), which is why the distortion hid for nine rounds. The noop
    sink executes the full plan and discards rows JVM-side — also the
    same materialization basis as the DuckDB side-by-side's
    fetchall(). BASELINE.md §7 records the bridge totals (one run
    measured on each basis, same code)."""
    df.write.format("noop").mode("overwrite").save()


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_protocol_replay(spark, mix: str, warm: bool) -> tuple[float, float, dict]:
    """Deterministic transaction replay throughput on a sparse-conflict
    mix. Returns (seconds, txns_per_sec, replay stats)."""
    from streamy_db_spark import fixtures
    from streamy_db_spark.engine_batch import replay
    from streamy_db_spark.session import release_local_checkpoints

    if warm:
        # Warm the replay's plan shapes on a tiny mix first: a cold run
        # pays ~3.5 s of one-time Catalyst/codegen compile across the
        # fixpoint's many small jobs (measured 8.4 s cold vs 4.8 s warm
        # for the SAME work). On a resident engine those plans compile
        # once per process — same rationale as the scan/Arrow warmups.
        w = fixtures.generate_df(spark, "ref_smoke").localCheckpoint(eager=True)
        r, s = replay(w)
        r.count(), s.count()
        for f in (r, s, w):  # warm-run scratch: release before timing
            release_local_checkpoints(f)

    txns = fixtures.generate_df(spark, mix)
    txns = txns.localCheckpoint(eager=True)  # exclude generation from timing
    n = txns.count()
    stats: dict = {}
    t0 = time.perf_counter()
    results, state = replay(txns, stats=stats)
    n_res = results.count()
    state.count()
    dt = time.perf_counter() - t0
    # Fully consumed — release the replay's surviving checkpoints
    # (input txns, per-round verdicts behind ``results``, the final
    # working set behind ``state``) so a 1M replay's blocks stop
    # pinning session memory for every entry measured after it
    # (guide §5; the replay itself already frees its internals
    # wave-by-wave). Outside the timed region on purpose.
    for f in (results, state, txns):
        release_local_checkpoints(f)
    if n_res != n:  # explicit raise: survives python -O (r8 review)
        raise RuntimeError(f"replay dropped transactions: {n_res}/{n}")
    return dt, n / dt, stats


def bench_protocol_stream(spark, mix: str) -> tuple[float, float, dict]:
    """STREAMING engine throughput (r7 verdict item 3: the streaming
    path had correctness tests but no recorded number). Runs the
    file-coupled replay loop — the same harness the oracle-parity /
    kill-restart tests drive — with availableNow rounds under the
    RocksDB state store provider, end to end through the externalized
    feedback loop. Timing includes the per-round query start/stop
    overhead on purpose: that IS the cost profile of checkpointed
    availableNow rounds (a continuously-running trigger would amortize
    it; the loop is the replayable form). Returns (seconds,
    txns_per_sec, stats)."""
    import shutil
    import tempfile

    from streamy_db_spark import fixtures
    from streamy_db_spark.streaming.replay_loop import (
        run_streaming_replay,
        with_rocksdb,
    )

    txns = fixtures.generate(mix)
    n = len({t["transaction_id"] for t in txns})
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    stats: dict = {}
    try:
        t0 = time.perf_counter()
        with with_rocksdb(spark):
            # state partitions sized to the 10k-txn fixture (not the
            # session's 32): identical layout to the continuous bench so
            # the two numbers isolate the per-round restart tax
            verdicts = run_streaming_replay(
                spark, txns, tmp, watermark_delay="1 hour", stats=stats,
                shuffle_partitions=8,
            )
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if len(verdicts) != n:  # explicit raise: survives python -O
        raise RuntimeError(
            f"stream dropped transactions: {len(verdicts)}/{n}"
        )
    return dt, n / dt, stats


def bench_protocol_stream_continuous(spark, mix: str) -> tuple[float, float, dict]:
    """Streaming throughput with the three queries CONTINUOUSLY RUNNING
    (one start each, processingTime triggers) — the deployment shape,
    measuring the engine's steady-state trigger cadence instead of the
    availableNow harness's per-round query restarts (r8 verdict item 2:
    protocol_stream_10k's wall time was ~39 start/stop cycles). The
    residual cost here is real engine cost: the feedback loop's
    sequential round depth × per-hop trigger latency (file discovery +
    stateful addBatch + state-store commit). Returns (seconds,
    txns_per_sec, stats)."""
    import shutil
    import tempfile

    from streamy_db_spark import fixtures
    from streamy_db_spark.streaming.replay_loop import (
        run_streaming_replay_continuous,
        with_rocksdb,
    )

    txns = fixtures.generate(mix)
    n = len({t["transaction_id"] for t in txns})
    tmp = tempfile.mkdtemp(prefix="bench_stream_cont_")
    stats: dict = {}
    try:
        t0 = time.perf_counter()
        with with_rocksdb(spark):
            # hard timeout safely ABOVE the budget's worst effective
            # bound (280 s budget x slowdown cap 3 = 840), so a
            # noisy-VM run lands in the breach-and-retry gate like
            # every other entry instead of dying here as an error
            # (r9 review)
            # r10 cadence tuning: with the feedback hop fused into the
            # txn sink, per-round latency is trigger-wait + batch exec;
            # 100 ms triggers / 0.3 s heartbeats measured 67 s vs 80 s
            # at the 500 ms / 1 s defaults (the library defaults stay
            # production-shaped — this knob is the bench's, like
            # shuffle_partitions)
            verdicts = run_streaming_replay_continuous(
                spark, txns, tmp, timeout_s=1200.0, stats=stats,
                shuffle_partitions=8,
                trigger_interval="100 milliseconds",
                heartbeat_interval_s=0.3,
            )
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if len(verdicts) != n:  # explicit raise: survives python -O
        raise RuntimeError(
            f"continuous stream dropped transactions: {len(verdicts)}/{n}"
        )
    return dt, n / dt, stats


def bench_corpus_build_full(spark) -> tuple[float, dict]:
    """Corpus build with the two r9 opt-in dedup stages ON (r9 verdict
    item 2: without a benched variant, a perf regression in the
    SemDeDup or ExactSubstr stage is invisible round over round).
    Semantic threshold 0.95 — high enough that only true paraphrase
    clusters drop, low enough the stage does real verdict work on the
    sf0.1 embeddings; substring window 8 = the operator default the
    oracle-gated q_dedup_substrings uses. Per-stage row counts come
    back in the stats dict (rows_semantic_dedup / substring_spans_cut
    are the two new stages' receipts)."""
    import shutil
    import tempfile

    from streamy_db_spark.pipeline import build_corpus

    tmp = tempfile.mkdtemp(prefix="bench_corpus_full_")
    try:
        t0 = time.perf_counter()
        stats = build_corpus(
            spark,
            SF_DIR,
            os.path.join(tmp, "corpus"),
            mixture_total_tokens=100_000,
            semantic_threshold=0.95,
            substring_window=8,
        )
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dt, stats


def bench_stream_dedup_sink(
    spark,
    kind: str,
    copies: int | None = None,
    n_files: int = 8,
    timeout_s: float = 1200.0,
) -> tuple[float, int, dict]:
    """Streaming-ingest throughput for one dedup sink (r10 verdict item
    5: near_dedup_sink / semantic_dedup_sink had correctness twins but
    zero throughput signal). Drives a REAL Structured Streaming query —
    file source, maxFilesPerTrigger=1 over an ``n_files``-file input,
    availableNow trigger, checkpointed foreachBatch — so the number
    includes the per-trigger query machinery plus the gate's
    state-probe/append work, i.e. the deployment shape.

    The stream is the sf0.1 corpus replicated ``copies``x with shifted
    ids (default: docs ×2, embeddings ×5 ⇒ ~10k rows) — duplicate-heavy
    by construction, which is the workload these sinks exist for (every
    replica batch pays the full probe + rejection path). Timing starts
    at query start: input materialization and state-dir setup are
    excluded. Returns (seconds, rows ingested, stats).

    REGIME NOTE (r11 verdict item 4): at the default shape each trigger
    carries ~1.25k rows, so per-trigger fixed cost (query planning,
    state open, commit) dominates — the docs/s figure measures TRIGGER
    OVERHEAD, not operator capacity. The steady-state figure comes from
    bench_stream_dedup_sink_steady (triggers sized ~10k docs), recorded
    separately; BASELINE.md labels which regime each row measures."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from streamy_db_spark.streaming import sinks as sk

    tmp = tempfile.mkdtemp(prefix=f"bench_sink_{kind}_")
    try:
        if kind == "semantic":
            from streamy_db_spark.operators.similarity import (
                ivf_train_centroids,
            )

            base = spark.read.parquet(
                os.path.join(SF_DIR, "embeddings.parquet")
            ).select("vec_id", "embedding")
            copies = 5 if copies is None else copies
            centroids = ivf_train_centroids(base, n_clusters=16)
        else:
            base = spark.read.parquet(
                os.path.join(SF_DIR, "documents.parquet")
            ).select("doc_id", "text")
            copies = 2 if copies is None else copies
        id_col = "vec_id" if kind == "semantic" else "doc_id"
        stream_in = None
        for i in range(copies):
            shifted = base.withColumn(
                id_col, F.col(id_col) + F.lit(i * 10_000_000)
            )
            stream_in = shifted if stream_in is None else stream_in.unionByName(shifted)
        # write once, then count the WRITTEN files — counting the lazy
        # union first would evaluate the replicate scan twice (r11
        # review)
        in_dir = os.path.join(tmp, "input")
        stream_in.repartition(n_files).write.parquet(in_dir)
        written = spark.read.parquet(in_dir)
        n = written.count()
        schema = written.schema

        state = os.path.join(tmp, "state")
        out = os.path.join(tmp, "out")
        if kind == "near":
            sink = sk.near_dedup_sink(spark, state, out)
        elif kind == "semantic":
            sink = sk.semantic_dedup_sink(spark, state, out, centroids=centroids)
        elif kind == "substr":
            sink = sk.substring_dedup_sink(spark, state, out)
        else:
            raise ValueError(kind)
        stats: dict = {}
        with sink:
            t0 = time.perf_counter()
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(timeout_s):
                q.stop()
                raise RuntimeError(f"stream_dedup_{kind} timed out")
            dt = time.perf_counter() - t0
        sink_df = sk.read_sink(spark, out)
        if kind == "substr":
            # canonicalize the changelog: raw span-row counts vary ±
            # a few with Spark's batch composition (the merged per-doc
            # union is the gate's invariant), so the recorded figure is
            # the MERGED span count — deterministic round over round
            from streamy_db_spark.operators.substring import merge_spans

            out_rows = merge_spans(sink_df).count()
        else:
            out_rows = sink_df.count()
        stats["rows_out"] = out_rows
        # plausibility: the admission sinks emit a subset of the input;
        # the substring sink emits SPANS (can exceed doc count — most
        # docs get whole-doc spans on a ×2-replicated stream)
        if out_rows <= 0 or (kind != "substr" and out_rows > n):
            raise RuntimeError(
                f"stream_dedup_{kind}: implausible sink output "
                f"{out_rows}/{n}"
            )
        return dt, n, stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_stream_dedup_sink_steady(spark, kind: str) -> tuple[float, int, dict]:
    """STEADY-STATE streaming ingest for one dedup sink (r11 verdict
    item 4): ~50k docs in 5 files, maxFilesPerTrigger=1 ⇒ each trigger
    carries ~10k docs, so per-trigger fixed cost amortizes to ≤20% and
    docs/s approaches the operator's sustained capacity — the number to
    quote for ingest sizing, alongside (never instead of) the
    trigger-overhead-bound 10k/8 figure. Sized to 5 triggers so the
    per-round bench stays inside its wall budget; a one-off 100k/10
    near-sink run measured 219.5 docs/s (BASELINE §9) — same regime,
    same rate — validating that 5 triggers at this trigger size already
    sit on the steady plateau."""
    copies = 25 if kind == "semantic" else 10  # 2000 / 5000 base rows
    return bench_stream_dedup_sink(
        spark, kind, copies=copies, n_files=5, timeout_s=2400.0
    )


def bench_corpus_build_incremental(spark) -> tuple[float, dict]:
    """Batch-over-batch corpus refresh end to end (r11 verdict item 6):
    the sf0.1 documents split into 4 increasing-id waves, each admitted
    through the composed gates (exact → near → semantic → substring,
    pipeline.IncrementalCorpusBuilder) over shared parquet state, then
    one publish of the stateless tail. The stats dict carries each
    wave's receipt plus the publish receipt — the wave receipts are the
    regression signal for per-batch gate cost at a realistic (1.25k
    docs/wave) trigger size."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from streamy_db_spark.operators.similarity import ivf_train_centroids
    from streamy_db_spark.pipeline import IncrementalCorpusBuilder

    docs = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).select("doc_id", "source", "text")
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    bounds = list(
        docs.selectExpr(
            "percentile_approx(doc_id, array(0.25, 0.5, 0.75), 10000)"
        ).collect()[0][0]
    )
    waves = [
        docs.filter(F.col("doc_id") <= bounds[0]),
        docs.filter(
            (F.col("doc_id") > bounds[0]) & (F.col("doc_id") <= bounds[1])
        ),
        docs.filter(
            (F.col("doc_id") > bounds[1]) & (F.col("doc_id") <= bounds[2])
        ),
        docs.filter(F.col("doc_id") > bounds[2]),
    ]
    centroids = ivf_train_centroids(emb, n_clusters=16)
    bench_set = docs.orderBy("doc_id").limit(5).select("text")
    tmp = tempfile.mkdtemp(prefix="bench_corpus_inc_")
    try:
        t0 = time.perf_counter()
        builder = IncrementalCorpusBuilder(
            spark,
            os.path.join(tmp, "state"),
            semantic_centroids=centroids,
            semantic_threshold=0.95,
            substring_window=8,
        )
        stats: dict = {}
        for i, wave in enumerate(waves):
            r = builder.process_batch(wave, batch_id=i, embeddings=emb)
            stats[f"wave{i}_in"] = r["rows_in"]
            stats[f"wave{i}_accepted"] = r["rows_accepted"]
        pub = builder.publish(
            os.path.join(tmp, "corpus"),
            bench=bench_set,
            mixture_total_tokens=100_000,
        )
        dt = time.perf_counter() - t0
        # publish() already namespaces its cache-hit stats as
        # publish_rescored_* — only prefix the rest, or the record
        # grows a publish_publish_* key family nobody compares against
        stats.update(
            {
                (k if k.startswith("publish_") else f"publish_{k}"): v
                for k, v in pub.items()
            }
        )
        # Second publish over unchanged state — the wave-cadence case
        # the publish verdict cache (r12 verdict item 5) exists for.
        # Untimed in the gated figure (dt stays 4 waves + first
        # publish, the r12 basis); recorded alongside so the cache's
        # win — and any regression that starts re-scoring the world —
        # shows up in every round's record. rescored counts must be 0.
        t1 = time.perf_counter()
        pub2 = builder.publish(
            os.path.join(tmp, "corpus2"),
            bench=bench_set,
            mixture_total_tokens=100_000,
        )
        stats["publish2_seconds"] = round(time.perf_counter() - t1, 3)
        stats["publish2_rescored_decon"] = pub2["publish_rescored_decon"]
        stats["publish2_rescored_rep"] = pub2["publish_rescored_rep"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dt, stats


def bench_corpus_build(spark) -> tuple[float, dict]:
    """End-to-end corpus build wall time at the bench SF (r7 verdict
    item 5): profile → exact dedup → near-dup keepers → decontaminate →
    repetition filter → mixture rebalance → split → shuffle → pack →
    clustered write → compaction, via pipeline.build_corpus. The
    mixture token budget is set so the rebalance actually subsamples at
    sf0.1 (a budget above the corpus volume keeps everything and the
    stage proves nothing). Returns (seconds, stage row counts)."""
    import shutil
    import tempfile

    from streamy_db_spark.pipeline import build_corpus

    tmp = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        t0 = time.perf_counter()
        stats = build_corpus(
            spark,
            SF_DIR,
            os.path.join(tmp, "corpus"),
            mixture_total_tokens=100_000,
        )
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dt, stats


# ---------------------------------------------------------------------------
# sf1 scale lane (r11 verdict item 3): the r11 sf0.1→sf1 probe caught a
# real super-linear scaler (pinned-K semantic dedup) but was a one-off —
# its data was gitignored and its generator lived in command history, so
# the NEXT scale regression would stay invisible until someone hand-ran
# a probe again. This lane makes the probe deterministic and per-round:
# regenerate the 10x scale-up from the bench SF dir, run the heavy slots
# at BOTH scales in one session (bench-identical noop forcing, memo
# caches cleared per scale), and record the ratios in the bench JSON
# with ADVISORY (non-gating) ceilings — a super-linear scaler now fails
# loudly in BENCH_r{N}.json instead of at the next hand-run probe.
#
# Workload shape (matches the r11 probe, BASELINE.md §8): each table is
# replicated `replicas`x with shifted keys; replica document text gets a
# unique suffix token (replicas stay shingle-level near-dups, Jaccard
# ~0.9 — the ~90%-duplicate corpus is the ADVERSARIAL shape for the
# dedup family); replica embeddings are rotated (a norm-preserving
# permutation, so each replica forms its own cosine neighborhood).
# region/nation stay fixed (TPC-H scaling semantics: dims are referenced
# by the shifted fact keys modulo the shift, so every replica's facts
# still join).

_SF1_GEN_VERSION = 1
_SF1_REPLICAS = 10
# Ratio ceilings for `replicas`x data, ADVISORY only: 12x = linear +20%
# headroom for the duplicate-heavy workload shape (hot LSH buckets and
# 10-doc near-dup families do strictly more verify work per doc than the
# base corpus). Sub-second sf0.1 slots get a floor below so scheduler
# jitter can't fabricate a ratio breach.
_SF1_ADVISORY_RATIO = 12.0
_SF1_FLOOR_S = 0.5
# Slots EXEMPT from the advisory ceiling, with the reason recorded in
# the JSON (r12 verdict item 4): q_semantic_dedup deliberately pins
# K=32 so its DuckDB oracle stays parametric — under 10x data the
# per-cluster O(B^2) scoring grows ~10x BY CONSTRUCTION (the documented
# pinned-K artifact, BASELINE §8). Its measured ratio sat at 11.1-11.2x
# on both r12 runs, one noise quantum below the 12x ceiling — a false
# breach would erode the lane's signal. The PRODUCTION sizing (K ∝ N,
# dedup.semantic_cluster_count) is measured alongside as
# q_semantic_dedup_autok, which IS ceiling-gated.
_SF1_CEILING_EXEMPT = {
    "q_semantic_dedup": (
        "pinned-K=32 oracle slot; super-linear by construction — the "
        "production auto-K twin is gated as q_semantic_dedup_autok"
    ),
}
# An exemption is BOUNDED (r13 review): the pinned-K artifact measures
# ~11x by construction, so up to 2x the advisory ceiling it stays an
# informational record — beyond that the slot breaches like any other,
# because a 50x ratio is a plan regression no documented artifact
# explains and an unbounded exemption would swallow it silently.
_SF1_EXEMPT_CEILING = 24.0
_SF1_QUERIES = (
    "q_dedup_groups",
    "q_minhash_lsh_pairs_capped",
    "q_simhash64_neardup_capped",
    "q_dedup_substrings",
    "q_semantic_dedup",
    "q_decontaminate",
    "q_tpch_q5",
    "q_join_3way",
)
_SF1_KEY_SHIFTS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 1_000_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}


def ensure_sf1_data(
    spark,
    src_dir: str = SF_DIR,
    out_dir: str | None = None,
    replicas: int = _SF1_REPLICAS,
) -> str:
    """Deterministically (re)generate the 10x scale-up of ``src_dir``
    under ``out_dir`` (default <repo>/scale_sf1, gitignored). Idempotent:
    a MANIFEST.json recording (generator version, source, replicas)
    skips regeneration when it matches; generation writes to a tmp dir
    and renames, so a crashed run can't leave a half-corpus that a later
    run trusts."""
    import shutil

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    out_dir = out_dir or os.path.join(_REPO, "scale_sf1")
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    want = {
        "version": _SF1_GEN_VERSION,
        "source": os.path.abspath(src_dir),
        "replicas": replicas,
    }
    if os.path.isfile(manifest_path):
        try:
            with open(manifest_path) as fh:
                if json.load(fh) == want:
                    return out_dir
        except ValueError:
            pass

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    tables = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    for name in tables:
        # RAW read (no loader normalization): the scale-up must keep the
        # source's physical quirks (e.g. events.ts as nanos-long under
        # the session's nanosAsLong conf) so load_table() exercises the
        # same normalization path at both scales.
        base = spark.read.parquet(os.path.join(src_dir, f"{name}.parquet"))
        dst = os.path.join(tmp, f"{name}.parquet")
        shifts = _SF1_KEY_SHIFTS.get(name)
        if not shifts:  # region/nation: fixed dims
            base.write.parquet(dst)
            continue
        parts = []
        for r in range(replicas):
            rep = base
            for col, step in shifts.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(r * step))
            if name == "documents" and r:
                # unique suffix token per replica: replicas are
                # shingle-level near-dups of the original, not exact dups
                ncdt = base.schema["n_chars"].dataType
                rep = rep.withColumn(
                    "text", F.concat_ws(" ", F.col("text"), F.lit(f"sf1rep{r}"))
                ).withColumn("n_chars", F.length("text").cast(ncdt))
            if name == "embeddings" and r:
                # rotate-by-r: norm-preserving, so replica vectors form
                # their own neighborhoods instead of exact duplicates
                emb = F.col("embedding")
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(emb, F.lit(r + 1), F.size(emb) - F.lit(r)),
                        F.slice(emb, F.lit(1), F.lit(r)),
                    ),
                )
            parts.append(rep)
        merged: DataFrame = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        if name == "documents":
            # 32 files: the r11 probe showed single-file text scans
            # serialize the gram-explode stage (BASELINE.md §8) — the
            # multi-file shape is the representative one
            merged = merged.repartition(32)
        merged.write.parquet(dst)

    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(want, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def bench_sf1(spark) -> dict:
    """Run the heavy slots + corpus_build_full at the bench SF and at
    the 10x scale-up, same session, same noop forcing, memo caches
    cleared per scale, and report per-query ratios with advisory
    ceilings. Returns the ``sf1`` block for the bench JSON."""
    import shutil
    import tempfile

    import __spark_entry__ as entry_mod
    from streamy_db_spark.operators import minhash, similarity
    from streamy_db_spark.pipeline import build_corpus

    qfns = entry_mod.queries()
    t_gen0 = time.perf_counter()
    sf1_dir = ensure_sf1_data(spark)
    gen_s = round(time.perf_counter() - t_gen0, 3)

    block: dict = {
        "replicas": _SF1_REPLICAS,
        "generate_seconds": gen_s,  # ~0 when the manifest cache hits
        "queries": {},
        "rows_out": {},
        "candidates": {},
        "ratios": {},
        "rows_ratios": {},
        "candidates_ratios": {},
        "advisory_ceiling": _SF1_ADVISORY_RATIO,
        "advisory_breaches": {},
        "advisory_exempt": {},
        "errors": {},
    }

    def _semantic_autok(spark, d):
        # the PRODUCTION semantic-dedup path: K ∝ N sizing + IVF-trained
        # centroids + the pandas scoring pass — the twin whose scale
        # behavior the advisory ceiling should actually gate (the
        # pinned-K oracle slot is exempt; _SF1_CEILING_EXEMPT)
        from streamy_db_spark.operators.dedup import (
            semantic_cluster_count,
            semantic_dedup,
        )
        from streamy_db_spark.operators.similarity import ivf_train_centroids
        from streamy_db_spark.sources.tables import load_table

        emb = load_table(spark, d, "embeddings")
        k = semantic_cluster_count(emb.count())
        centroids = ivf_train_centroids(emb, n_clusters=k)
        return semantic_dedup(emb, centroids, threshold=0.95)

    def _minhash_candidates(spark, d):
        # candidate stage of q_minhash_lsh_pairs_capped in isolation:
        # same sketch, same banding expression, same cap
        from pyspark.sql import functions as F

        sk = minhash.sketch_table_cached(spark, d)
        bands = sk.select(
            "doc_id",
            F.posexplode(minhash.band_hashes(F.col("sig"))).alias(
                "band", "band_hash"
            ),
        )
        return minhash.lsh_candidate_pairs(
            bands, max_bucket_size=minhash._CAPPED_Q_BUCKET_SIZE
        )

    def _simhash64_candidates(spark, d):
        # candidate stage of q_simhash64_neardup_capped in isolation:
        # same fingerprint/banding, same star cap (the verify pass
        # delegates candidates to lsh_candidate_pairs since r13, so
        # this IS the measured query's candidate plan)
        from pyspark.sql import functions as F

        from streamy_db_spark.sources.tables import load_table, spread

        docs = load_table(spark, d, "documents")
        fp = spread(docs.select("doc_id", "text"), "doc_id").select(
            "doc_id",
            minhash.simhash64_band_values(F.col("text")).alias("bands"),
        )
        buckets = fp.select(
            "doc_id", F.posexplode("bands").alias("band", "band_hash")
        )
        return minhash.lsh_candidate_pairs(
            buckets, max_bucket_size=minhash._SIMHASH64_CAPPED_BUCKET_SIZE
        )

    # UNTIMED candidate-volume companions for the pair slots (r12
    # verdict item 2): a verified-pair ratio alone can't separate
    # "LSH emitted quadratically more candidates" from "verification
    # got slower" — candidates + verified at both scales can.
    candidate_fns = {
        "q_minhash_lsh_pairs_capped": _minhash_candidates,
        "q_simhash64_neardup_capped": _simhash64_candidates,
    }

    lane_fns = {name: qfns[name] for name in _SF1_QUERIES}
    lane_fns["q_semantic_dedup_autok"] = _semantic_autok

    from pyspark import StorageLevel

    corpus: dict[str, float] = {}
    for scale, d in (("sf0.1", SF_DIR), ("sf1", sf1_dir)):
        # fair ratio basis: both scales pay the full sketch/pair
        # pipeline, no memoized stage from earlier in the bench
        minhash.clear_corpus_caches(spark, d)
        similarity._IVF_CENTROID_CACHE.clear()
        for name, fn in lane_fns.items():
            try:
                # the timed window starts BEFORE fn(): the memoized
                # helpers (sketch/pair caches) do their heavy work
                # eagerly inside the call, and excluding it collapsed
                # every cached slot to sub-second on the first r13 run
                # — same basis as every prior round.
                t0 = time.perf_counter()
                # rows_out companion (r12 verdict item 2): a ratio is
                # unattributable without the work volume — on the
                # ~90%-duplicate corpus, pair/group volume grows
                # super-linearly BY DATA SHAPE (intra-family pairs are
                # quadratic in family size), and only flat counts under
                # a >ceiling ratio indicate a plan regression. The
                # result tables are verdict/pair-sized (never the
                # corpus), so a DISK_ONLY persist lets the untimed
                # count read the cached blocks instead of re-running
                # the whole plan (r13 review: the re-execution was
                # silently doubling the lane's wall cost). The persist
                # write rides inside the timed force identically at
                # both scales, so the ratio basis is unchanged.
                df = fn(spark, d).persist(StorageLevel.DISK_ONLY)
                try:
                    _force(df)
                    block["queries"].setdefault(name, {})[scale] = round(
                        time.perf_counter() - t0, 3
                    )
                    block["rows_out"].setdefault(name, {})[scale] = (
                        df.count()
                    )
                finally:
                    df.unpersist()
            except Exception as exc:  # noqa: BLE001 - lane is advisory
                block["errors"][f"{name}@{scale}"] = (
                    f"{type(exc).__name__}: {exc}"[:300]
                )
        for name, fn in candidate_fns.items():
            try:
                block["candidates"].setdefault(name, {})[scale] = fn(
                    spark, d
                ).count()
            except Exception as exc:  # noqa: BLE001 - lane is advisory
                block["errors"][f"{name}_candidates@{scale}"] = (
                    f"{type(exc).__name__}: {exc}"[:300]
                )
        tmp = tempfile.mkdtemp(prefix="bench_sf1_corpus_")
        try:
            t0 = time.perf_counter()
            stats = build_corpus(
                spark,
                d,
                os.path.join(tmp, "corpus"),
                mixture_total_tokens=100_000,
                semantic_threshold=0.95,
                substring_window=8,
            )
            corpus[scale] = round(time.perf_counter() - t0, 3)
            block["rows_out"].setdefault("corpus_build_full", {})[scale] = (
                stats.get("rows_landed")
            )
        except Exception as exc:  # noqa: BLE001
            block["errors"][f"corpus_build_full@{scale}"] = (
                f"{type(exc).__name__}: {exc}"[:300]
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if corpus:
        block["queries"]["corpus_build_full"] = corpus

    sf1_apply_verdicts(block)
    for name, ratio in block["advisory_breaches"].items():
        print(
            f"bench: SF1 ADVISORY: {name} scaled {ratio}x for "
            f"{_SF1_REPLICAS}x data (ceiling "
            f"{_SF1_ADVISORY_RATIO}x; rows_out ratio "
            f"{block['rows_ratios'].get(name)}, candidates ratio "
            f"{block['candidates_ratios'].get(name)}) — super-linear "
            "scaler, investigate before it meets real data",
            file=sys.stderr,
        )
    for name, rec in block["advisory_exempt"].items():
        # informational, never silent (r13 review): an exempt slot's
        # over-ceiling ratio still prints so drift toward the bounded
        # exemption ceiling is visible round over round
        print(
            f"bench: SF1 exempt slot {name} at {rec['ratio']}x "
            f"(ceiling {_SF1_ADVISORY_RATIO}x, exemption bound "
            f"{_SF1_EXEMPT_CEILING}x): {rec['reason']}",
            file=sys.stderr,
        )
    return block


def sf1_apply_verdicts(block: dict) -> dict:
    """Fill ratios / rows_ratios / advisory_breaches / advisory_exempt
    from the raw per-scale timings and rows_out in ``block`` (pure —
    unit-tested in tests/test_bench_gate.py). Exempt slots stay out of
    ``advisory_breaches`` only up to ``_SF1_EXEMPT_CEILING`` (2x the
    advisory ceiling — r13 review bound); inside the bound their
    over-ceiling ratios land in ``advisory_exempt`` with the documented
    reason so the record still shows the number without crying wolf
    (r12 verdict item 4), beyond it they breach like any other slot."""
    for name, rec in block["queries"].items():
        if "sf0.1" in rec and "sf1" in rec:
            ratio = round(rec["sf1"] / max(rec["sf0.1"], _SF1_FLOOR_S), 2)
            block["ratios"][name] = ratio
            rows = block["rows_out"].get(name, {})
            if rows.get("sf0.1"):
                block["rows_ratios"][name] = round(
                    rows.get("sf1", 0) / rows["sf0.1"], 2
                )
            cand = block.get("candidates", {}).get(name, {})
            if cand.get("sf0.1"):
                block.setdefault("candidates_ratios", {})[name] = round(
                    cand.get("sf1", 0) / cand["sf0.1"], 2
                )
            if ratio > _SF1_ADVISORY_RATIO:
                if (
                    name in _SF1_CEILING_EXEMPT
                    and ratio <= _SF1_EXEMPT_CEILING
                ):
                    block["advisory_exempt"][name] = {
                        "ratio": ratio,
                        "reason": _SF1_CEILING_EXEMPT[name],
                    }
                    continue
                block["advisory_breaches"][name] = ratio
    return block


def duckdb_oracle_seconds(
    per_query_timeout_s: float = 60.0,
) -> tuple[dict[str, float], list[str]]:
    """(per-query DuckDB wall times, skipped query names) for every
    oracle SQL on the same parquet — the side-by-side single-node engine
    comparison BASELINE.md §2 commits to (r7 verdict item 6).
    Informational column only: it never gates (DuckDB here is a
    reference point, not a budget). Queries past ``per_query_timeout_s``
    are interrupted and listed in ``skipped`` (DuckDB's recursive-CTE
    dedup oracle can run for minutes at sf0.1 — an unbounded comparison
    column must not blow the bench's wall-clock); the skipped list is
    recorded in the JSON so a partial DuckDB total can never silently
    read as a speedup against a round where everything completed (r8
    review — the same partial-total rule the Spark headline follows).

    Timeout discipline (r8 second review): each query runs on a worker
    thread; the main thread join(timeout)s and interrupts only while
    the worker is provably still alive — and after ANY interrupt call
    the connection is REBUILT, because a residual interrupt flag (the
    worker finishing in the instant between the liveness check and the
    interrupt) would otherwise abort the NEXT query and mis-record it
    as skipped. Never raises: a failure anywhere (including loading the
    oracle registry itself) returns what completed so far plus a
    skipped marker — the bench record must not die for the comparison
    column."""
    import threading

    try:
        import __spark_entry__ as entry_mod

        sqls = sorted(entry_mod.oracle_sql().items())
    except Exception as exc:  # noqa: BLE001
        print(f"bench: duckdb sweep skipped (oracle registry): {exc}",
              file=sys.stderr)
        return {}, ["__oracle_registry__"]

    out: dict[str, float] = {}
    skipped: list[str] = []
    try:
        import duckdb

        from streamy_db_spark.sources.tables import TABLE_NAMES

        def connect():
            con = duckdb.connect()
            con.execute(
                f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}"
            )
            # long queries pop a progress bar on the terminal — noise
            # that must not interleave with the one-JSON-line stdout
            con.execute("SET enable_progress_bar=false")
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
                )
            return con

        con = connect()
        for name, sql in sqls:
            result: dict = {}

            def work(con=con, sql=sql, result=result):
                try:
                    con.execute(sql).fetchall()
                    result["ok"] = True
                except Exception as exc:  # noqa: BLE001
                    result["err"] = exc

            t0 = time.perf_counter()
            worker = threading.Thread(target=work, daemon=True)
            worker.start()
            worker.join(per_query_timeout_s)
            interrupted = False
            if worker.is_alive():
                interrupted = True
                try:
                    con.interrupt()
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: duckdb interrupt failed: {exc}",
                          file=sys.stderr)
                worker.join(30)
            dt = time.perf_counter() - t0
            if result.get("ok") and not interrupted:
                out[name] = round(dt, 3)
            else:
                skipped.append(name)
                reason = result.get(
                    "err", f"interrupted after {per_query_timeout_s:.0f}s"
                )
                print(f"bench: duckdb {name} skipped: {reason}",
                      file=sys.stderr)
            if interrupted:
                # A residual interrupt flag poisons the next execute, so
                # the connection is replaced. close() only when the
                # worker actually died: on a query that ignored the
                # interrupt, close() would BLOCK on the connection's
                # internal lock until the query finishes — unbounded —
                # so a still-alive worker's connection is ABANDONED to
                # its daemon thread instead (it dies with the process;
                # the sweep moves on, r8 third review).
                if not worker.is_alive():
                    try:
                        con.close()
                    except Exception:  # noqa: BLE001
                        pass
                else:
                    print(
                        f"bench: duckdb {name} ignored interrupt for 30s; "
                        "abandoning its connection",
                        file=sys.stderr,
                    )
                con = connect()
        return out, skipped
    except Exception as exc:  # noqa: BLE001
        # Keep what completed (r8 third review: a mid-sweep failure used
        # to discard the finished timings) and mark everything not yet
        # timed as skipped so the partial total stays auditable.
        print(f"bench: duckdb sweep aborted: {exc}", file=sys.stderr)
        done = set(out) | set(skipped)
        skipped.extend(name for name, _ in sqls if name not in done)
        return out, skipped


def main() -> None:
    import __spark_entry__ as entry_mod
    from streamy_db_spark.session import get_spark

    spark = get_spark("bench")
    t_start = time.perf_counter()

    def phase(msg: str) -> None:
        # stderr breadcrumbs so a wedged or slow bench shows WHERE the
        # wall-clock went (the JSON contract owns stdout)
        print(
            f"bench: [{time.perf_counter() - t_start:7.1f}s] {msg}",
            file=sys.stderr,
        )

    errors: dict[str, str] = {}
    replay_extra: dict[str, object] = {}

    # 1M replay FIRST — session-cold, before any warmup (r9 verdict
    # item 6): the in-sweep measurement swung 5x with sweep order and
    # page cache while standalone cold runs reproduce within ±2%
    # (BASELINE.md §6 A/B), so the recorded number is pinned to the
    # reproducible context. Everything after this point runs warm, as
    # before.
    phase("starting cold 1M replay (pinned measurement context)")
    # Every cold-basis 1M sample this bench takes, in order; the record
    # reports min-of-N (BASELINE §9: same-code cold samples spread up
    # to 4.2x with ambient host load on this VM, so only minima
    # compare — r12 verdict item 3 folds that rule into the per-round
    # record instead of prescribing it for hand-runs).
    cold_1m_samples: list[dict] = []
    try:
        replay_s, rate, stats_1m = bench_protocol_replay(
            spark, "scale_bench_1m", warm=False
        )
        replay_extra["protocol_replay_1m_seconds"] = round(replay_s, 3)
        replay_extra["1m_txn_per_sec"] = round(rate, 1)
        replay_extra["1m_waves"] = stats_1m.get("rounds")
        cold_1m_samples.append(
            {
                "seconds": round(replay_s, 3),
                "txn_per_sec": round(rate, 1),
                "context": "in_session_cold",
            }
        )
    except Exception as exc:  # noqa: BLE001
        errors["protocol_replay_1m"] = f"{type(exc).__name__}: {exc}"[:500]
        print(
            f"bench: protocol_replay_1m FAILED: "
            f"{errors['protocol_replay_1m']}",
            file=sys.stderr,
        )

    # Warm the JVM + scan paths once so per-query numbers measure the
    # queries, not first-job class-loading (~5 s on the first parquet
    # aggregation otherwise).
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()

    # Warm the Python/Arrow worker pool too: the first pandas-UDF stage in
    # a session forks + initializes one Python worker per core (~7 s on
    # local[32]); on a long-lived cluster those workers are resident, so
    # charging the fork cost to whichever query happens to run first would
    # misattribute it.
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def _warm(v):  # pragma: no cover - trivial
        return v * 1.0

    n_warm_parts = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(10_000, numPartitions=n_warm_parts).select(
        _warm(F.col("id").cast("double"))
    ).count()

    # Warm the mapInPandas PLAN SHAPE too (r5: MapInPandasExec compiles
    # ~2.4 s of one-time codegen the scalar pandas_udf warmup above does
    # not touch — measured 3.2 s session-cold vs 0.81 s warm for
    # q_media_features; the cost landed on whichever media query ran
    # first and breached its budget). Same resident-engine rationale.
    def _warm_mip(batches):  # pragma: no cover - trivial
        yield from batches

    spark.range(10_000, numPartitions=n_warm_parts).mapInPandas(
        _warm_mip, "id long"
    ).count()

    # Warm the noop-sink WRITE path too (r10: _force materializes via
    # DSv2 noop writes, and the session's first one pays plan/committer
    # init that would otherwise land on whichever query runs first in
    # the sweep — the same misattribution class the Arrow warmups
    # exist for).
    spark.range(10_000, numPartitions=n_warm_parts).write.format(
        "noop"
    ).mode("overwrite").save()

    # Warm the dedup pair-pipeline plan shapes on the smallest SF (same
    # rationale as the scan/Arrow/replay warmups: the shingle+signature
    # higher-order expressions cost ~3.5 s of one-time Catalyst/codegen
    # compile — measured 4.5 s first run vs 1.0 s steady-state for the
    # SAME sf0.1 work — and a resident engine compiles them once per
    # process, not once per query). The tiny-SF run populates nothing
    # reused later (_PAIRS_CACHE is keyed by sf_dir).
    tiny = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if os.path.isdir(tiny):
        try:
            from streamy_db_spark.operators.dedup import q_dedup_groups as _wdg

            _wdg(spark, tiny).count()
        except Exception as exc:  # noqa: BLE001 - warmup must never kill the bench
            print(f"bench: dedup warmup skipped: {exc}", file=sys.stderr)

        # Warm the corpus-build plan shapes too (r8 verdict item 5: the
        # driver's FIRST corpus_build run measured 75.8 s and breached,
        # the retry cleared at 33.2 s — one-time plan compile + cold
        # state, not plan cost; the budget should gate the WARM cost,
        # which is what a resident pipeline pays per run).
        try:
            import shutil as _sh  # noqa: PLC0415
            import tempfile as _tf  # noqa: PLC0415

            from streamy_db_spark.pipeline import build_corpus as _wbc

            _wtmp = _tf.mkdtemp(prefix="bench_corpus_warm_")
            try:
                # opt-in stages ON so the full-variant bench is also
                # plan-warm (the plain build shares the common stages)
                _wbc(
                    spark,
                    tiny,
                    os.path.join(_wtmp, "corpus"),
                    mixture_total_tokens=10_000,
                    semantic_threshold=0.95,
                    substring_window=8,
                )
            finally:
                _sh.rmtree(_wtmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - warmup must never kill the bench
            print(f"bench: corpus-build warmup skipped: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    phase("warmups done; starting query sweep")

    for name, fn in sorted(entry_mod.queries().items()):
        # Per-query fault isolation: one failing query must not kill the
        # whole benchmark record (round 3 lost every number to a single
        # AnalysisException). Failures are reported, never silently eaten.
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            _force(df)
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    # The 100k replay is NOT added to ``timings``/``value``: the headline
    # total must stay on the same basis as earlier rounds (registered
    # queries + the 10k replay) or round-over-round comparison against
    # BASELINE.md silently absorbs ~13 s of brand-new work as a
    # "regression". It is still recorded (and budget-checked) via the
    # dedicated top-level fields.
    phase("query sweep done; starting protocol replays")
    txn_rate = 0.0
    for label, mix, warm, in_total in (
        ("protocol_replay_10k", "scale_bench", True, True),
        ("protocol_replay_100k", "scale_bench_100k", False, False),
        # the 1M decade ran FIRST (cold pinned context) — see above
    ):
        try:
            replay_s, rate, stats = bench_protocol_replay(spark, mix, warm)
            if in_total:
                timings[label] = round(replay_s, 3)
                txn_rate = rate
            else:
                replay_extra[f"{label}_seconds"] = round(replay_s, 3)
            replay_extra[f"{label.split('_')[-1]}_txn_per_sec"] = round(rate, 1)
            replay_extra[f"{label.split('_')[-1]}_waves"] = stats.get("rounds")
        except Exception as exc:  # noqa: BLE001
            errors[label] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {label} FAILED: {errors[label]}", file=sys.stderr)

    # Streaming-engine throughput (r7 verdict item 3) — extra field,
    # not part of the headline total (same basis rule as the 100k/1m
    # replays).
    try:
        s_sec, s_rate, s_stats = bench_protocol_stream(spark, "scale_bench")
        replay_extra["protocol_stream_10k_seconds"] = round(s_sec, 3)
        replay_extra["stream_txn_per_sec"] = round(s_rate, 1)
        replay_extra["stream_rounds"] = s_stats.get("rounds")
    except Exception as exc:  # noqa: BLE001
        errors["protocol_stream_10k"] = f"{type(exc).__name__}: {exc}"[:500]
        print(
            f"bench: protocol_stream_10k FAILED: "
            f"{errors['protocol_stream_10k']}",
            file=sys.stderr,
        )

    # Continuous-trigger form (r8 verdict item 2): one start per query,
    # so the number measures the engine's trigger cadence, not the
    # harness's per-round restarts. Extra field, same basis rule.
    try:
        c_sec, c_rate, c_stats = bench_protocol_stream_continuous(
            spark, "scale_bench"
        )
        replay_extra["protocol_stream_10k_continuous_seconds"] = round(c_sec, 3)
        replay_extra["stream_continuous_txn_per_sec"] = round(c_rate, 1)
        replay_extra["stream_continuous_batches"] = c_stats.get("batches")
    except Exception as exc:  # noqa: BLE001
        errors["protocol_stream_10k_continuous"] = (
            f"{type(exc).__name__}: {exc}"[:500]
        )
        print(
            f"bench: protocol_stream_10k_continuous FAILED: "
            f"{errors['protocol_stream_10k_continuous']}",
            file=sys.stderr,
        )

    phase("streaming done; starting corpus build")
    # End-to-end corpus build (r7 verdict item 5) — extra field.
    try:
        c_sec, c_stats = bench_corpus_build(spark)
        replay_extra["corpus_build_seconds"] = round(c_sec, 3)
        replay_extra["corpus_build_stages"] = c_stats
    except Exception as exc:  # noqa: BLE001
        errors["corpus_build"] = f"{type(exc).__name__}: {exc}"[:500]
        print(
            f"bench: corpus_build FAILED: {errors['corpus_build']}",
            file=sys.stderr,
        )

    # Same build with the opt-in SemDeDup + ExactSubstr stages ON —
    # the r9 flagship additions get a round-over-round regression
    # signal (r9 verdict item 2). Extra field, same basis rule.
    try:
        cf_sec, cf_stats = bench_corpus_build_full(spark)
        replay_extra["corpus_build_full_seconds"] = round(cf_sec, 3)
        replay_extra["corpus_build_full_stages"] = cf_stats
    except Exception as exc:  # noqa: BLE001
        errors["corpus_build_full"] = f"{type(exc).__name__}: {exc}"[:500]
        print(
            f"bench: corpus_build_full FAILED: {errors['corpus_build_full']}",
            file=sys.stderr,
        )

    # Streaming dedup-sink ingest throughput (r10 verdict item 5: the
    # sinks had correctness twins but zero throughput signal). Extra
    # fields, same basis rule as the other protocol entries.
    phase("corpus build done; starting incremental corpus build")
    # Batch-over-batch refresh through the composed gates (r11 verdict
    # item 6) — extra field, same basis rule.
    try:
        ci_sec, ci_stats = bench_corpus_build_incremental(spark)
        replay_extra["corpus_build_incremental_seconds"] = round(ci_sec, 3)
        replay_extra["corpus_build_incremental_stages"] = ci_stats
    except Exception as exc:  # noqa: BLE001
        errors["corpus_build_incremental"] = f"{type(exc).__name__}: {exc}"[:500]
        print(
            f"bench: corpus_build_incremental FAILED: "
            f"{errors['corpus_build_incremental']}",
            file=sys.stderr,
        )

    phase("incremental corpus build done; starting streaming dedup sinks")
    for kind in ("near", "semantic", "substr"):
        label = f"stream_dedup_{kind}_10k"
        try:
            s_sec, s_n, s_stats = bench_stream_dedup_sink(spark, kind)
            replay_extra[f"{label}_seconds"] = round(s_sec, 3)
            replay_extra[f"{label}_docs_per_sec"] = round(s_n / s_sec, 1)
            replay_extra[f"{label}_rows_out"] = s_stats["rows_out"]
        except Exception as exc:  # noqa: BLE001
            errors[label] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {label} FAILED: {errors[label]}", file=sys.stderr)

    # Steady-state regime: ~10k docs per trigger, so docs/s approaches
    # sustained operator capacity instead of trigger overhead (r11
    # verdict item 4). SPARK_GRAFT_STEADY_SINKS=0 skips (it is the
    # bench's most expensive block).
    if os.environ.get("SPARK_GRAFT_STEADY_SINKS", "1") != "0":
        phase("overhead-regime sinks done; starting steady-state sinks")
        for kind in ("near", "semantic", "substr"):
            label = f"stream_dedup_{kind}_steady"
            try:
                s_sec, s_n, s_stats = bench_stream_dedup_sink_steady(
                    spark, kind
                )
                replay_extra[f"{label}_seconds"] = round(s_sec, 3)
                replay_extra[f"{label}_docs_per_sec"] = round(s_n / s_sec, 1)
                replay_extra[f"{label}_rows_out"] = s_stats["rows_out"]
            except Exception as exc:  # noqa: BLE001
                errors[label] = f"{type(exc).__name__}: {exc}"[:500]
                print(
                    f"bench: {label} FAILED: {errors[label]}", file=sys.stderr
                )

    phase("streaming dedup sinks done; gating budgets")
    # Budgets only bind on the standard bench configuration.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    breaches = {}
    retried: dict[str, dict[str, float]] = {}
    slowdown = 1.0
    if abs(_sf_from_dir(SF_DIR) - 0.1) < 1e-9 and cpus >= 16:
        checked = dict(timings)
        for label in ("protocol_replay_100k", "protocol_replay_1m"):
            if f"{label}_seconds" in replay_extra:
                checked[label] = replay_extra[f"{label}_seconds"]
        if "protocol_stream_10k_seconds" in replay_extra:
            checked["protocol_stream_10k"] = replay_extra[
                "protocol_stream_10k_seconds"
            ]
        if "protocol_stream_10k_continuous_seconds" in replay_extra:
            checked["protocol_stream_10k_continuous"] = replay_extra[
                "protocol_stream_10k_continuous_seconds"
            ]
        if "corpus_build_seconds" in replay_extra:
            checked["corpus_build"] = replay_extra["corpus_build_seconds"]
        if "corpus_build_full_seconds" in replay_extra:
            checked["corpus_build_full"] = replay_extra[
                "corpus_build_full_seconds"
            ]
        if "corpus_build_incremental_seconds" in replay_extra:
            checked["corpus_build_incremental"] = replay_extra[
                "corpus_build_incremental_seconds"
            ]
        for kind in ("near", "semantic", "substr"):
            for regime in ("10k", "steady"):
                label = f"stream_dedup_{kind}_{regime}"
                if f"{label}_seconds" in replay_extra:
                    checked[label] = replay_extra[f"{label}_seconds"]

        qfns = entry_mod.queries()
        retry_rates: dict[str, float] = {}
        # retry-run companion fields (rows_out, waves): when a retry's
        # timing wins, its companion fields must replace the first
        # run's too — a record mixing two runs' fields describes
        # neither (r11 review)
        retry_fields: dict[str, dict[str, object]] = {}

        def rerun(name: str) -> float | None:
            try:
                if name == "protocol_replay_1m":
                    # an IN-SESSION rerun is warm and would void the
                    # cold gate — instead re-measure once in a FRESH
                    # subprocess session, preserving the cold basis
                    # while transient host noise clears (r10 advice).
                    cold = _cold_1m_subprocess()
                    if cold is None:
                        return None
                    sec, rate, waves = cold
                    cold_1m_samples.append(
                        {
                            "seconds": round(sec, 3),
                            "txn_per_sec": round(rate, 1),
                            "context": "retry_subprocess",
                        }
                    )
                    retry_rates[name] = rate
                    retry_fields[name] = {"1m_waves": waves}
                    return sec
                if name.startswith("protocol_replay_"):
                    mix = {
                        "protocol_replay_10k": "scale_bench",
                        "protocol_replay_100k": "scale_bench_100k",
                    }.get(name)
                    if mix is None:
                        return None
                    sec, rate, _ = bench_protocol_replay(spark, mix, warm=False)
                    retry_rates[name] = rate
                    return sec
                if name == "protocol_stream_10k":
                    sec, rate, _ = bench_protocol_stream(spark, "scale_bench")
                    retry_rates[name] = rate
                    return sec
                if name == "protocol_stream_10k_continuous":
                    sec, rate, _ = bench_protocol_stream_continuous(
                        spark, "scale_bench"
                    )
                    retry_rates[name] = rate
                    return sec
                if name == "corpus_build":
                    sec, _ = bench_corpus_build(spark)
                    return sec
                if name == "corpus_build_full":
                    sec, _ = bench_corpus_build_full(spark)
                    return sec
                if name == "corpus_build_incremental":
                    sec, _ = bench_corpus_build_incremental(spark)
                    return sec
                if name.startswith("stream_dedup_"):
                    # faithful retry: every run starts from a fresh
                    # tmp state dir, so the retry reproduces the first
                    # pass's cold-state basis exactly — and the steady
                    # regime retries as steady (same copies/files)
                    runner = (
                        bench_stream_dedup_sink_steady
                        if name.endswith("_steady")
                        else bench_stream_dedup_sink
                    )
                    sec, s_n, s_stats = runner(spark, name.split("_")[2])
                    retry_rates[name] = s_n / sec
                    retry_fields[name] = {
                        f"{name}_rows_out": s_stats["rows_out"]
                    }
                    return sec
                if name not in qfns:
                    return None

                # Purge per-corpus memo caches, then reproduce the
                # query's first-pass cache basis (see _cache_rewarms) —
                # a cache-hit retry would clear ANY pipeline breach and
                # void the gate; a cold retry of a warm-based query
                # re-pays work its budget never included. If the purge
                # or rewarm raises, the outer except declines the retry
                # (FAIL SAFE: the first timing and its breach stand —
                # r6 review: warn-and-measure would quietly void the
                # gate).
                def purge() -> None:
                    from streamy_db_spark.operators import minhash, similarity

                    minhash.clear_corpus_caches(spark, SF_DIR)
                    similarity._IVF_CENTROID_CACHE.clear()

                return timed_retry_with_basis(
                    purge,
                    _cache_rewarms(spark, SF_DIR).get(name),
                    lambda: _force(qfns[name](spark, SF_DIR)),
                )
            except Exception as exc:  # noqa: BLE001 - retry must not kill the record
                print(f"bench: retry of {name} FAILED: {exc}", file=sys.stderr)
                return None

        slowdown, breaches, retried = retry_breaches(checked, BUDGETS, rerun)

        # Propagate retried minima back into the reported fields so the
        # headline total reflects steady-state, with both measurements
        # preserved in "retried".
        for name in retried:
            if name in timings:
                timings[name] = checked[name]
        for label in (
            "protocol_replay_100k",
            "protocol_replay_1m",
            "protocol_stream_10k",
            "protocol_stream_10k_continuous",
            "stream_dedup_near_10k",
            "stream_dedup_semantic_10k",
            "stream_dedup_substr_10k",
            "stream_dedup_near_steady",
            "stream_dedup_semantic_steady",
            "stream_dedup_substr_steady",
        ):
            if label in retried:
                replay_extra[f"{label}_seconds"] = checked[label]
        if "corpus_build" in retried:
            replay_extra["corpus_build_seconds"] = checked["corpus_build"]
        if "corpus_build_full" in retried:
            replay_extra["corpus_build_full_seconds"] = checked[
                "corpus_build_full"
            ]
        if "corpus_build_incremental" in retried:
            replay_extra["corpus_build_incremental_seconds"] = checked[
                "corpus_build_incremental"
            ]
        for name, rate in retry_rates.items():
            if name in retried and checked[name] == retried[name]["retry"]:
                key = {
                    "protocol_stream_10k": "stream_txn_per_sec",
                    "protocol_stream_10k_continuous": (
                        "stream_continuous_txn_per_sec"
                    ),
                    "stream_dedup_near_10k": "stream_dedup_near_10k_docs_per_sec",
                    "stream_dedup_semantic_10k": (
                        "stream_dedup_semantic_10k_docs_per_sec"
                    ),
                    "stream_dedup_substr_10k": (
                        "stream_dedup_substr_10k_docs_per_sec"
                    ),
                    "stream_dedup_near_steady": (
                        "stream_dedup_near_steady_docs_per_sec"
                    ),
                    "stream_dedup_semantic_steady": (
                        "stream_dedup_semantic_steady_docs_per_sec"
                    ),
                    "stream_dedup_substr_steady": (
                        "stream_dedup_substr_steady_docs_per_sec"
                    ),
                }.get(name, f"{name.split('_')[-1]}_txn_per_sec")
                replay_extra[key] = round(rate, 1)
                replay_extra.update(retry_fields.get(name, {}))
                if name == "protocol_replay_10k":
                    txn_rate = rate

        for name, b in breaches.items():
            print(
                f"bench: {name} BUDGET BREACH: {b['sec']}s > "
                f"{b['effective_budget']}s (budget {b['budget']}s x "
                f"machine slowdown {slowdown}; persisted across a retry)",
                file=sys.stderr,
            )

    # Side-by-side DuckDB column (BASELINE.md §2 commitment): the same
    # oracle SQL on the same parquet, timed per query. Informational —
    # never gates, never enters the headline total.
    phase("budget gate done; starting duckdb side-by-side sweep")
    duckdb_sec, duckdb_skipped = duckdb_oracle_seconds()
    phase("duckdb sweep done; starting sf1 scale lane")

    # sf0.1 -> sf1 scale lane (r11 verdict item 3): ADVISORY ratios —
    # recorded in the JSON, never gates rc. Runs LAST so its cache
    # clears and heavy jobs can't perturb the gated measurements above.
    # SPARK_GRAFT_SF1=0 skips (e.g. when benching a non-standard dir).
    sf1_block: dict | None = None
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and abs(_sf_from_dir(SF_DIR) - 0.1) < 1e-9
    ):
        try:
            sf1_block = bench_sf1(spark)
        except Exception as exc:  # noqa: BLE001 - advisory lane
            sf1_block = {"errors": {"lane": f"{type(exc).__name__}: {exc}"[:300]}}
            print(f"bench: sf1 lane FAILED: {sf1_block['errors']['lane']}",
                  file=sys.stderr)
    phase("sf1 lane done")

    # Cold-1M min-of-N top-up (r12 verdict item 3): take fresh-JVM
    # subprocess samples until N cold-basis samples exist, then record
    # the min as the round's comparable figure. Runs LAST — each sample
    # is its own subprocess session, and nothing gated runs after it.
    # SPARK_GRAFT_COLD1M_N=1 effectively disables the top-up.
    cold_1m_n = int(os.environ.get("SPARK_GRAFT_COLD1M_N", "3"))
    if "protocol_replay_1m" not in errors:
        while len(cold_1m_samples) < cold_1m_n:
            phase(
                f"cold-1m min-of-N top-up: sample "
                f"{len(cold_1m_samples) + 1}/{cold_1m_n}"
            )
            cold = _cold_1m_subprocess()
            if cold is None:
                # a broken subprocess path would loop forever; record
                # what exists — the min-of-N block states its own n
                break
            sec, rate, _waves = cold
            cold_1m_samples.append(
                {
                    "seconds": round(sec, 3),
                    "txn_per_sec": round(rate, 1),
                    "context": "min_of_n_subprocess",
                }
            )
    cold_1m_min: dict | None = None
    if cold_1m_samples:
        best = min(cold_1m_samples, key=lambda s: s["seconds"])
        cold_1m_min = {
            "n": len(cold_1m_samples),
            "min_seconds": best["seconds"],
            "txn_per_sec_at_min": best["txn_per_sec"],
            "samples": cold_1m_samples,
        }
    phase("cold-1m min-of-N done")

    # A partial total reads as a speedup — invalidate the headline when
    # any query failed so round-over-round comparison can't use it.
    total = round(sum(timings.values()), 3) if not errors else None
    record = json.dumps(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": _sf_from_dir(SF_DIR),
            "protocol_txn_per_sec": round(txn_rate, 1),
            **replay_extra,
            "duckdb_seconds": duckdb_sec,
            "duckdb_skipped": duckdb_skipped,
            "duckdb_total_seconds": round(sum(duckdb_sec.values()), 3),
            "sf1": sf1_block,
            "cold_1m_min_of_n": cold_1m_min,
            "machine_slowdown": slowdown,
            "budget_breaches": breaches,
            "retried": retried,
            "errors": errors,
        }
    )
    print(record)
    # Belt for the one-line stdout contract: the r13 round lost its
    # entire per-query round-over-round comparison because the DRIVER's
    # capture of the r12 stdout tail truncated the JSON line
    # (BENCH_r12 parsed: null). Persist the identical record to a file
    # next to the bench so a prev-round stdout-capture failure can
    # never blind the comparison again. Best-effort: a read-only cwd
    # must not fail the run whose stdout IS the contract.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_out.json"),
            "w",
        ) as fh:
            fh.write(record + "\n")
    except OSError:
        pass
    spark.stop()
    if errors or breaches:
        sys.exit(1)


def cold_1m_main() -> None:
    """Subprocess entry for the 1M replay's breach recourse: a FRESH
    session (new JVM, cold page cache for the session's artifacts) so
    the re-measure is on the same session-cold basis the gate pins.
    Prints one JSON line with the cold seconds."""
    from streamy_db_spark.session import get_spark

    spark = get_spark("bench_cold_1m")
    sec, rate, stats = bench_protocol_replay(spark, "scale_bench_1m", warm=False)
    print(
        json.dumps(
            {
                "cold_1m_seconds": round(sec, 3),
                "txn_per_sec": round(rate, 1),
                "waves": stats.get("rounds"),
            }
        )
    )
    spark.stop()


def _cold_1m_subprocess() -> tuple[float, float, int | None] | None:
    """One fresh-session cold rerun of the 1M replay (r10 advice: with
    no retry path at all, one VM contention spike during the single
    ~90 s cold sample failed the whole round with no recourse). An
    IN-SESSION retry is warm by construction and would void the cold
    gate; a subprocess rerun preserves the cold basis — new JVM, fresh
    codegen, session-cold state — while transient host noise still
    clears. Returns (seconds, txn_per_sec, waves) or None if the
    subprocess failed (the first measurement and its breach then stand
    — fail safe, same rule as every other declined retry).

    Host-headroom caveat (r11 review): the subprocess allocates a
    SECOND driver JVM (SPARK_DRIVER_MEMORY, default ¾ of RAM up to 16g) while the
    parent session stays resident — on a host without that headroom
    the rerun fails (rc!=0 / timeout) and the first measurement
    stands; the recourse degrades safely but cannot clear noise
    there."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cold-1m"],
            capture_output=True,
            text=True,
            timeout=1800,
            cwd=_REPO,
        )
    except subprocess.TimeoutExpired:
        return None
    if proc.returncode != 0:
        print(
            f"bench: cold-1m subprocess rc={proc.returncode}: "
            f"{proc.stderr[-500:]}",
            file=sys.stderr,
        )
        return None
    return _parse_cold_1m(proc.stdout)


def _parse_cold_1m(stdout: str) -> tuple[float, float, int | None] | None:
    """Last JSON line with a cold_1m_seconds field wins (Spark may spill
    log noise onto stdout around the record)."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "cold_1m_seconds" in rec:
            return (
                float(rec["cold_1m_seconds"]),
                float(rec["txn_per_sec"]),
                rec.get("waves"),
            )
    return None


def sf1_main() -> None:
    """Standalone sf1 lane (``bench.py --sf1``): regenerate the scale-up
    if stale and print ONE JSON line with the sf1 block — the iterate
    loop for scale work without paying the full bench sweep."""
    from streamy_db_spark.session import get_spark

    spark = get_spark("bench_sf1")
    block = bench_sf1(spark)
    print(json.dumps({"sf1": block}))
    spark.stop()
    if block.get("errors"):
        sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--cold-1m":
        cold_1m_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--sf1":
        sf1_main()
    else:
        main()
