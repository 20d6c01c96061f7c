"""Self-tests of the benchmark's checks: each corrupts a correct output
and asserts that the checker catches it. Plain Python, no Spark:

    python3 -m pytest -q perfbench/test_checks.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference  # noqa: E402
from reference import serial_fold, serial_key  # noqa: E402


def _replay_outputs():
    log = gen.contended_log(7, 300, 200)
    return serial_fold(sorted(log, key=serial_key))


def test_fold_semantics():
    txns = [
        {"transaction_id": "a", "asserts": [("k", None)], "updates": [("k", "1")]},
        {"transaction_id": "b", "asserts": [("k", None)], "updates": [("k", "2")]},
        {"transaction_id": "c", "asserts": [("k", "1")], "updates": [("k", None)]},
        {"transaction_id": "d", "asserts": [("k", None)], "updates": []},
    ]
    verdicts, state = serial_fold(txns)
    assert verdicts == {"a": True, "b": False, "c": True, "d": True}
    assert state == {}


def test_correct_outputs_pass():
    verdicts, state = _replay_outputs()
    assert reference.check_verdicts(verdicts, dict(verdicts)) == (0, [])
    assert reference.check_state(state, dict(state)) == []


def test_flipped_verdict_caught():
    verdicts, _ = _replay_outputs()
    got = dict(verdicts)
    tid = next(iter(got))
    got[tid] = not got[tid]
    failed, problems = reference.check_verdicts(verdicts, got)
    assert failed == 1 and problems


def test_dropped_transaction_caught():
    verdicts, _ = _replay_outputs()
    got = dict(verdicts)
    del got[next(iter(got))]
    failed, problems = reference.check_verdicts(verdicts, got)
    assert failed == 1 and problems


def test_changed_state_value_caught():
    _, state = _replay_outputs()
    got = dict(state)
    key = next(iter(got))
    got[key] = got[key] + "x"
    assert reference.check_state(state, got)


def _greedy_gate(batches):
    """A correct gate for the checker: admit a document unless an
    admitted one (this batch or earlier) has Jaccard >= 0.5 with it."""
    admitted, kept = [], []
    for rows in batches:
        ids = []
        for doc_id, text in rows:
            sh = reference.shingles(text)
            if all(reference.jaccard(sh, k) < 0.5 for k in kept):
                ids.append(doc_id)
                kept.append(sh)
        admitted.append(ids)
    return admitted


def _dedup_case():
    docs = gen.documents(3, 300)
    batches = gen.cut_batches(docs, 3)
    admitted = _greedy_gate(batches)
    return docs, batches, admitted


def test_correct_gate_passes():
    _, batches, admitted = _dedup_case()
    state = [d for ids in admitted for d in ids]
    assert reference.check_dedup(batches, admitted, state) == (0, [])


def test_admitted_exact_duplicate_caught():
    docs, batches, admitted = _dedup_case()
    text = dict(docs)
    first = {}
    for doc_id, t in docs:
        first.setdefault(t, doc_id)
    dup = next(d for d, t in docs if first[t] != d)
    b = next(i for i, rows in enumerate(batches) if any(d == dup for d, _ in rows))
    assert text[dup] == text[first[text[dup]]]
    admitted[b].append(dup)
    state = [d for ids in admitted for d in ids]
    failed, problems = reference.check_dedup(batches, admitted, state)
    assert failed >= 1 and any("exact-duplicate" in p for p in problems)


def test_rejected_without_near_duplicate_caught():
    docs, batches, admitted = _dedup_case()
    sh = {d: reference.shingles(t) for d, t in docs}
    lonely = next(
        d for ids in admitted for d in ids
        if all(reference.jaccard(sh[d], s) < 0.1 for e, s in sh.items() if e != d)
    )
    admitted = [[d for d in ids if d != lonely] for ids in admitted]
    state = [d for ids in admitted for d in ids]
    failed, problems = reference.check_dedup(batches, admitted, state)
    assert failed == 1 and any(f"doc {lonely} rejected" in p for p in problems)


def test_state_mismatch_caught():
    _, batches, admitted = _dedup_case()
    state = [d for ids in admitted for d in ids][1:]
    _, problems = reference.check_dedup(batches, admitted, state)
    assert any("gate's state" in p for p in problems)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
