"""IncrementalSemanticDeduper: the embedding-space member of the
incremental gate family. Contracts under test — incremental admissions
equal one-shot greedy SemDeDup, crash-replay re-emits without
re-appending, later-batch re-sends drop, rejection is transitively
stable (greedy blockers are always in state), the centroid space is
pinned to the state dir, and the batch↔state block join never shuffles
the state side."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from streamy_db_spark.operators.dedup import semantic_dedup
from streamy_db_spark.operators.incremental import IncrementalSemanticDeduper
from streamy_db_spark.plans.inspect import executed_plan, formatted_explain
from streamy_db_spark.sources.tables import load_table

THRESH = 0.9
CENTROIDS = np.array(
    [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
)


def _xy(deg):
    r = math.radians(deg)
    return [math.cos(r), math.sin(r), 0.0, 0.0]


# cluster 0 (x-axis): 0°/25°/50° chain — greedy keeps 1 and 3 (2's
# blocker 1 is kept; 3's only blocker 2 was dropped, cos(0°,50°)≈0.64).
# cluster 1 (z-axis): singleton.
B1 = [(1, _xy(0.0)), (2, _xy(25.0)), (3, _xy(50.0)), (10, [0.0, 0.1, 1.0, 0.0])]
# 20 blocks vs kept 3 (cos5°), 21 blocks vs kept 1 (cos5°), 22 at -40°
# clears both kept docs (cos40°≈0.77, cos90°=0), 30 blocks vs kept 10.
B2 = [(20, _xy(55.0)), (21, _xy(5.0)), (22, _xy(-40.0)), (30, [0.0, 0.05, 1.0, 0.0])]


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ids(df):
    return {r.vec_id for r in df.collect()}


def test_planted_two_batches(spark, tmp_path):
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    assert _ids(d.process_batch(_emb(spark, B1), batch_id=0)) == {1, 3, 10}
    assert _ids(d.process_batch(_emb(spark, B2), batch_id=1)) == {22}
    assert d.seen_count() == 4


def test_incremental_equals_one_shot_greedy(spark, sf_oracle, tmp_path):
    """Natural-corpus parity: batches by id range admit exactly the
    one-shot greedy keepers over the union (the same discipline the
    lexical gate pins against its one-shot keepers)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    rows = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .orderBy("vec_id")
        .limit(8)
        .collect()
    )
    centroids = np.stack([np.asarray(r["e"], dtype=np.float64) for r in rows])
    # 0.4 on the random-gaussian fixture: non-trivial drops (see
    # ORACLE_SEMANTIC_COS rationale in operators/dedup.py)
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), centroids, threshold=0.4
    )
    accepted: set[int] = set()
    bounds = [0, 150, 300, 10**9]
    for i in range(3):
        batch = emb.filter(
            (F.col("vec_id") >= bounds[i]) & (F.col("vec_id") < bounds[i + 1])
        )
        accepted |= _ids(d.process_batch(batch, batch_id=i))
    one_shot = semantic_dedup(emb, centroids, threshold=0.4, greedy=True)
    keepers = {r.vec_id for r in one_shot.filter("keep").collect()}
    assert accepted == keepers
    assert keepers != _ids(emb)  # the gate actually dropped something


def test_crash_replay_reemits_without_reappending(spark, tmp_path):
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    first = _ids(d.process_batch(_emb(spark, B1), batch_id=0))
    n_state = spark.read.parquet(d._accepted_path).count()
    replay = _ids(d.process_batch(_emb(spark, B1), batch_id=0))
    assert replay == first == {1, 3, 10}
    assert spark.read.parquet(d._accepted_path).count() == n_state


def test_later_batch_resend_drops_and_rejection_is_stable(spark, tmp_path):
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    # 1 was accepted (re-send → drop); 2 was rejected by kept doc 1,
    # which IS in state (re-send → re-reject); 40 is novel.
    out = _ids(
        d.process_batch(
            _emb(spark, [(1, _xy(0.0)), (2, _xy(25.0)), (40, [0.0, 0.0, 0.0, 1.0])]),
            batch_id=1,
        )
    )
    assert out == {40}


def test_centroid_space_pinned_to_state(spark, tmp_path):
    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    d.process_batch(_emb(spark, B1), batch_id=0)
    with pytest.raises(ValueError, match="cluster spaces"):
        IncrementalSemanticDeduper(spark, path, CENTROIDS * 2.0)
    # None reuses the persisted matrix; the gate keeps working
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert np.array_equal(d2.centroids, CENTROIDS)
    assert _ids(d2.process_batch(_emb(spark, B2), batch_id=1)) == {22}


def test_first_use_requires_centroids(spark, tmp_path):
    with pytest.raises(ValueError, match="first use"):
        IncrementalSemanticDeduper(spark, str(tmp_path / "state"), None)


def test_state_block_join_no_exchange_on_state_side(spark, tmp_path):
    """Scale gate: accepted/ is the streamed side of a broadcast hash
    join — no Exchange hashpartitioning anywhere in the block stage."""
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    assigned = d._assigned(_emb(spark, B2)).localCheckpoint(eager=True)
    blocked = d._state_blocked(assigned, n_batch_docs=4)
    assert blocked is not None
    plan = executed_plan(blocked)
    assert "BroadcastHashJoin" in plan
    # the ONLY shuffle is the blocked-id distinct — keyed on the BATCH
    # id column (O(batch), map-side combined), never on the state scan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(_id" in plan


def test_state_block_join_folds_each_pair_once(spark, tmp_path):
    """r13 optimization gate: the block join's per-PAIR predicate
    carries exactly ONE array fold (the dot) — each side's norm is
    projected once per ROW before the join (the earlier plan's join
    condition folded every pair three times). The cosine stays
    bit-identical (same doubles, same division), which the equality
    suites in this file pin."""
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    assigned = d._assigned(_emb(spark, B2)).localCheckpoint(eager=True)
    blocked = d._state_blocked(assigned, n_batch_docs=4)
    plan = formatted_explain(blocked)
    # the join predicate (the only place both sides' columns meet)
    # evaluates one zip_with fold per pair; the norm folds sit in
    # per-row Projects.
    join_cond = [
        ln for ln in plan.splitlines() if "Join condition" in ln
    ]
    assert len(join_cond) == 1
    assert join_cond[0].count("aggregate(zip_with") == 1


def test_block_probe_prunes_state_files_with_verdict_parity(spark, tmp_path):
    """After compaction the block join reads only the files whose
    cluster range the batch touches (per-batch I/O ∝ batch cluster
    coverage, not state size) — and the verdicts equal the unpruned
    gate's exactly. Before compaction (no index, or too few indexed
    files) there is no accounting and the full scan runs."""
    import shutil

    # 8 well-separated clusters: one-hot dims, 6 docs each, all mutually
    # >= 0.95-similar within a cluster (small per-doc perturbation)
    dim = 8
    rows = []
    for c in range(8):
        for j in range(6):
            v = [0.0] * dim
            v[c] = 1.0
            v[(c + 1) % dim] = 0.01 * j
            rows.append((c * 100 + j, v))
    centroids = np.eye(dim)
    state = tmp_path / "state"
    d = IncrementalSemanticDeduper(
        spark, str(state), centroids, threshold=0.95
    )
    base = d.process_batch(_emb(spark, rows), batch_id=0)
    assert base.count() >= 8  # at least one keeper per cluster
    assert d.last_probe_scan is None  # no index yet: full scan, no accounting
    d.compact_state(accepted_min_files=8, force=True)
    assert (state / "accepted_index").is_dir()
    ref_state = tmp_path / "ref"
    shutil.copytree(state, ref_state)  # pre-probe snapshot for parity

    # probe touching TWO clusters: 9000 blocks against cluster 0's
    # keeper (cos ≈ 1); 9001 lands in cluster 6 but stays under 0.95
    probe = [(9000, [1.0, 0.001, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
             (9001, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.9, 0.44])]
    out = _ids(d.process_batch(_emb(spark, probe), batch_id=1))
    assert out == {9001}
    scan = d.last_probe_scan
    assert scan is not None, "pruning did not run on a prunable batch"
    assert scan["files_total"] >= 6
    assert scan["files_read"] < scan["files_total"]
    assert scan["files_pruned"] >= 1

    # parity: the SAME probe over the pre-probe state with pruning
    # floored out (plain full scan) gives identical verdicts
    ref = IncrementalSemanticDeduper(
        spark, str(ref_state), None, threshold=0.95,
        prune_min_indexed_files=10**9,
    )
    assert _ids(ref.process_batch(_emb(spark, probe), batch_id=1)) == out
    assert ref.last_probe_scan is None  # floored out: no accounting


def test_resend_dropped_through_pruned_membership(spark, tmp_path):
    """The seen/replay membership check reads the SAME pruned scan as
    the block join (assignment runs first): after compaction builds the
    index, a later-batch re-send of an accepted doc must still drop —
    its acceptance row lives in a file covering its (deterministically
    re-derived) cluster, which pruning always keeps."""
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    d.compact_state(accepted_min_files=4, force=True)
    out = _ids(
        d.process_batch(
            _emb(spark, [(1, _xy(0.0)), (50, [0.0, 0.0, 0.0, 1.0])]),
            batch_id=1,
        )
    )
    assert out == {50}  # re-send of accepted 1 dropped, novel 50 admitted
    assert d.seen_count() == 4  # nothing re-appended for doc 1


def test_strict_membership_drops_cluster_moved_resend(spark, tmp_path):
    """A re-sent accepted id whose embedding moved CLUSTERS escapes the
    pruned membership check (its acceptance row lives in a file the
    batch's clusters prune away) and is re-evaluated — the documented
    default. strict_id_membership=True restores the lexical gate's
    unconditional drop-on-id-match via a full id-column scan."""
    path = str(tmp_path / "state")
    # floor lowered so pruning engages on this tiny planted state (the
    # default floor of 4 indexed files would take the full scan — which
    # incidentally also drops the re-send, the same as strict mode)
    d = IncrementalSemanticDeduper(
        spark, path, CENTROIDS, threshold=THRESH, prune_min_indexed_files=1
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    d.compact_state(accepted_min_files=4, force=True)
    # id 1 re-sent with an embedding now nearest the z-axis centroid
    # (cluster 1: cos≈0.44 vs 0.0 to cluster 0) yet under the 0.9 bar
    # against cluster 1's kept doc 10 (cos≈0.35) — the batch touches
    # only cluster 1, so the file holding id 1's cluster-0 acceptance
    # is pruned away
    moved = [(1, [0.0, -0.9, 0.44, 0.0])]
    out_default = _ids(d.process_batch(_emb(spark, moved), batch_id=1))
    assert out_default == {1}  # documented default: re-evaluated, re-admitted

    path2 = str(tmp_path / "strict")
    s = IncrementalSemanticDeduper(
        spark, path2, CENTROIDS, threshold=THRESH, strict_id_membership=True
    )
    s.process_batch(_emb(spark, B1), batch_id=0)
    s.compact_state(accepted_min_files=4, force=True)
    assert _ids(s.process_batch(_emb(spark, moved), batch_id=1)) == set()


def test_semantic_dedup_sink_matches_batch_gate(spark, tmp_path):
    """The streaming twin admits exactly what the batch gate admits, and
    a crash-replayed micro-batch overwrites its directory with identical
    content (exactly-once composition, same as near_dedup_sink)."""
    from streamy_db_spark.streaming.sinks import read_sink, semantic_dedup_sink

    out = str(tmp_path / "out")
    with semantic_dedup_sink(
        spark,
        str(tmp_path / "state"),
        out,
        centroids=CENTROIDS,
        threshold=THRESH,
    ) as sink:
        sink(_emb(spark, B1), 0)
        sink(_emb(spark, B2), 1)
        sink(_emb(spark, B2), 1)  # crash replay: re-emit, no duplication
    got = {r.vec_id for r in read_sink(spark, out).collect()}
    ref = IncrementalSemanticDeduper(
        spark, str(tmp_path / "ref"), CENTROIDS, threshold=THRESH
    )
    want = _ids(ref.process_batch(_emb(spark, B1), batch_id=0)) | _ids(
        ref.process_batch(_emb(spark, B2), batch_id=1)
    )
    assert got == want == {1, 3, 10, 22}


def test_semantic_sink_passes_strict_membership_through(spark, tmp_path):
    from streamy_db_spark.streaming.sinks import semantic_dedup_sink

    with semantic_dedup_sink(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        centroids=CENTROIDS,
        strict_id_membership=True,
    ) as sink:
        assert sink._deduper.strict_id_membership is True


def test_output_and_verdicts_survive_compaction(spark, tmp_path):
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    out = d.process_batch(_emb(spark, B1), batch_id=0)
    assert d.compact_state() >= 1
    assert _ids(out) == {1, 3, 10}  # materialized, not lazily re-read
    assert _ids(d.process_batch(_emb(spark, B2), batch_id=1)) == {22}
    assert d.seen_count() == 4


def _xz(deg):
    r = math.radians(deg)
    return [math.cos(r), 0.0, math.sin(r), 0.0]


def test_recluster_state_lifecycle(spark, tmp_path):
    """recluster_state (r9 verdict item 5 — the centroid drift
    lifecycle): a pinned space that SPLITS a near-dup pair across
    clusters (the silent recall loss the pass exists to fix) is
    replaced under the heartbeat guard; afterwards (a) the pair shares
    one cluster in state, (b) a crash-REPLAYED batch re-emits
    identical verdicts and appends nothing, (c) a doc blocked by an
    accepted doc rejects under the new space, (d) a fresh instance
    adopts the new persisted matrix and the old one is refused, and
    (e) the self-retrain path also runs with replay preserved."""
    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    # 100 (40° in the x-z plane) lands in the x cluster, 101 (50°) in
    # the z cluster — cos(100, 101) = cos 10° ≈ 0.985 ≥ 0.9, yet the
    # pinned space never compares them: BOTH admit (the recall loss).
    b0 = [(1, _xy(0.0)), (10, [0.0, 0.1, 1.0, 0.0]),
          (100, _xz(40.0)), (101, _xz(50.0))]
    assert _ids(d.process_batch(_emb(spark, b0), batch_id=0)) == {1, 10, 100, 101}
    split = {
        r.accepted_id: r.cluster_id
        for r in spark.read.parquet(path + "/accepted").collect()
    }
    assert split[100] != split[101]

    # Re-cluster with a caller-trained space whose cluster 0 covers the
    # whole x-z fan.
    new_space = np.array([_xz(45.0), [0.0, 1.0, 0.0, 0.0]])
    assert d.recluster_state(centroids=new_space) >= 1
    joined = {
        r.accepted_id: r.cluster_id
        for r in spark.read.parquet(path + "/accepted").collect()
    }
    assert set(joined) == {1, 10, 100, 101}  # verdicts preserved
    assert joined[100] == joined[101]        # recall restored

    # (b) crash replay of batch 0: identical verdicts, nothing appended.
    assert _ids(d.process_batch(_emb(spark, b0), batch_id=0)) == {1, 10, 100, 101}
    assert d.seen_count() == 4

    # (c) future gating runs in the new space: 45° sits within cos 5°
    # of accepted 100 — rejected.
    assert _ids(d.process_batch(_emb(spark, [(102, _xz(45.0))]), batch_id=1)) == set()

    # (d) the new matrix is the persisted space; the old one is refused.
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert np.array_equal(d2.centroids, new_space)
    with pytest.raises(ValueError, match="cluster"):
        IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)

    # (e) self-retrain path (deterministic ivf_train_centroids over the
    # accepted vectors) — replay fidelity still holds after it.
    assert d.recluster_state() >= 1
    assert _ids(d.process_batch(_emb(spark, b0), batch_id=0)) == {1, 10, 100, 101}
    assert d.seen_count() == 4


def test_recluster_promotion_crash_heals_on_load(spark, tmp_path):
    """A crash between the promotion's delete and rename leaves
    centroids/ missing with the fully-written next matrix still at
    centroids.__next__ — a state reachable only AFTER the accepted/
    swap committed, so _load_centroids completes the rename and a
    fresh instance comes up in the NEW space (the review's
    'unrecoverable overwrite' hole, closed)."""
    import os
    import shutil

    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    d.process_batch(_emb(spark, B1), batch_id=0)
    new_space = np.array([_xz(45.0), [0.0, 1.0, 0.0, 0.0]])
    d.recluster_state(centroids=new_space)
    # simulate the crash window: centroids/ gone, next matrix present
    shutil.move(path + "/centroids", path + "/centroids.__next__")
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert np.array_equal(d2.centroids, new_space)
    assert os.path.isdir(path + "/centroids")
    assert not os.path.exists(path + "/centroids.__next__")
    # the healed state still gates in the new space: 102 sits cos 1°
    # from accepted doc 1, both assigned to the xz-45° centroid
    assert _ids(
        d2.process_batch(_emb(spark, [(102, _xy(1.0))]), batch_id=1)
    ) == set()


def test_recluster_pending_intent_resume_and_stale_guard(spark, tmp_path):
    """Leftover centroids.__next__ semantics (second + third r10
    reviews): an abort PRESERVES pending intent (deleting it could
    destroy the only heal candidate after a post-swap failure), the
    BARE rerun adopts it, and an explicit n_clusters is NEW intent
    that re-trains instead of silently adopting stale state."""
    import os
    import time

    from streamy_db_spark.operators.incremental import (
        STREAM_HEARTBEAT,
        _read_state,
    )

    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    d.process_batch(_emb(spark, B1), batch_id=0)

    # plant a pending matrix (simulates a crash after the accepted swap)
    planted = np.array([[0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]])
    d._write_matrix(planted, d._centroids_next_path)

    # explicit n_clusters: retrain, do NOT adopt the planted matrix
    d.recluster_state(n_clusters=2)
    assert not np.array_equal(d.centroids, planted)

    # plant again, then ABORT a run via the live-stream heartbeat
    # guard: the pending matrix must survive the raised failure
    d._write_matrix(planted, d._centroids_next_path)
    hb = os.path.join(path, STREAM_HEARTBEAT)
    with open(hb, "w") as f:
        f.write("live")
    os.utime(hb, (time.time(), time.time()))
    with pytest.raises(RuntimeError, match="stream"):
        d.recluster_state()
    os.remove(hb)
    assert _read_state(spark, d._centroids_next_path) is not None

    # ...and the bare rerun adopts it (resume semantics), consuming it
    d.recluster_state()
    assert np.array_equal(d.centroids, planted)
    assert _read_state(spark, d._centroids_next_path) is None
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert np.array_equal(d2.centroids, planted)


def test_recluster_connect_fallback_consumes_pending_intent(
    spark, tmp_path, monkeypatch
):
    """Connect-path promotion (no FS handle: plain overwrite of
    centroids/) must CONSUME the pending centroids.__next__ intent —
    left in place it would make every later bare recluster_state()
    take the resume branch and adopt the stale matrix instead of
    retraining, silently stopping the drift-refresh lifecycle (r10
    advice). The consumed marker is skipped by the resume
    (_load_pending_intent) but keeps the promoted matrix content, so
    any classic-session crash repair that adopts the file stays
    correct."""
    from streamy_db_spark.operators import incremental
    from streamy_db_spark.operators import incremental_base
    from streamy_db_spark.operators.incremental import _read_state

    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    d.process_batch(_emb(spark, B1), batch_id=0)

    # simulate Connect for the state-dir FS only (compact_parquet's own
    # hadoop_fs stays real so the accepted/ rewrite can run)
    monkeypatch.setattr(incremental, "_state_fs", lambda s, pth: (None, None))
    # the scaffold resolves its own copy from incremental_base (r12
    # extraction) — patch BOTH so the Connect simulation also covers
    # the pruning ladder / heartbeat paths, not just migration
    monkeypatch.setattr(
        incremental_base, "_state_fs", lambda s, pth: (None, None)
    )

    planted = np.array([[0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]])
    d._write_matrix(planted, d._centroids_next_path)

    # bare rerun adopts the pending intent (resume works on Connect)...
    d.recluster_state()
    assert np.array_equal(d.centroids, planted)
    # ...and consumes it: the file persists (nothing can delete it on
    # Connect) but reads as no-intent, with the promoted content
    assert _read_state(spark, d._centroids_next_path) is not None
    assert d._load_pending_intent() is None

    # the NEXT bare rerun must RETRAIN (ivf over the accepted vectors),
    # not re-adopt the consumed matrix
    d.recluster_state()
    assert not np.array_equal(d.centroids, planted)

    # a fresh classic-session instance loads the promoted space and is
    # not confused by the consumed marker file
    monkeypatch.undo()
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert np.array_equal(d2.centroids, d.centroids)


def test_recluster_auto_resizes_k_to_state_size(spark, tmp_path):
    """n_clusters="auto" re-sizes K ∝ accepted-state size via
    dedup.semantic_cluster_count — the growth-maintenance form of the
    lifecycle (the sf1 probe's pinned-K super-linearity applied to the
    gate's own state). The tiny fixture sits in the rule's cap-at-N
    region, so the retrained space has exactly one centroid per
    accepted vector; verdicts, replay fidelity, and future gating all
    hold under the re-sized space."""
    from streamy_db_spark.operators.dedup import semantic_cluster_count

    path = str(tmp_path / "state")
    d = IncrementalSemanticDeduper(spark, path, CENTROIDS, threshold=THRESH)
    assert _ids(d.process_batch(_emb(spark, B1), batch_id=0)) == {1, 3, 10}
    assert _ids(d.process_batch(_emb(spark, B2), batch_id=1)) == {22}

    n_accepted = spark.read.parquet(path + "/accepted").count()
    assert d.recluster_state(n_clusters="auto") >= 1
    assert len(d.centroids) == semantic_cluster_count(n_accepted)

    # replay of a committed batch re-emits identically, appends nothing
    assert _ids(d.process_batch(_emb(spark, B2), batch_id=1)) == {22}
    assert spark.read.parquet(path + "/accepted").count() == n_accepted
    # future gating still rejects a near-dup of an accepted doc: with
    # one centroid per accepted vector, 2° lands on doc 1's centroid
    assert _ids(
        d.process_batch(_emb(spark, [(40, _xy(2.0))]), batch_id=2)
    ) == set()
    # "auto" is NEW intent: a fresh instance adopts the re-sized space
    d2 = IncrementalSemanticDeduper(spark, path, None, threshold=THRESH)
    assert len(d2.centroids) == semantic_cluster_count(n_accepted)


def test_recluster_rejects_unknown_string_intent(spark, tmp_path):
    """Only the exact literal "auto" is a string intent; anything else
    raises BEFORE the heartbeat guard / state scan / training run (a
    typo'd "Auto" would otherwise die deep in numpy after skipping the
    pending-intent resume)."""
    d = IncrementalSemanticDeduper(
        spark, str(tmp_path / "state"), CENTROIDS, threshold=THRESH
    )
    d.process_batch(_emb(spark, B1), batch_id=0)
    with pytest.raises(ValueError, match='"auto"'):
        d.recluster_state(n_clusters="Auto")
    # non-str junk is rejected just as early: a negative int would
    # otherwise silently train a truncated matrix and PROMOTE it over
    # the whole accepted state; a float dies deep in numpy post-guard
    with pytest.raises(ValueError, match="positive int"):
        d.recluster_state(n_clusters=-1)
    with pytest.raises(ValueError, match="positive int"):
        d.recluster_state(n_clusters=16.0)
    with pytest.raises(ValueError, match="positive int"):
        d.recluster_state(n_clusters=True)
    # numpy integers are valid K values (third review pass: the guard
    # must not narrow what X[:k] always accepted)
    assert d.recluster_state(n_clusters=np.int64(2)) >= 1
    assert len(d.centroids) == 2
