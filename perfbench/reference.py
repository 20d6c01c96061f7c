"""Reference computations and output checks, apart from the program.

``serial_fold`` is the protocol's meaning in a dozen lines: take the
transactions in serial order; a transaction commits iff every assert
equals the current value (``None`` matches an absent key, and only an
absent key); a committed transaction applies its updates in list order,
and a ``None`` update deletes the key.

The near-duplicate checks compute exact word-shingle Jaccard here, not
the program's MinHash estimate, so they hold the gate to what it is for.
"""

from __future__ import annotations

from collections import defaultdict


def serial_key(t: dict) -> tuple:
    return (t["ts"], t["kafka_partition"], t["kafka_offset"], t["transaction_id"])


def serial_fold(txns: list[dict], state: dict | None = None) -> tuple[dict, dict]:
    """Fold ``txns`` in the given order over a copy of ``state``.
    Returns ``(verdicts, state)``: ``{transaction_id: committed}`` and
    the resulting ``{key: value}``. Sort a log by ``serial_key`` first;
    batches for ``StreamyDB.execute`` are already in serial order."""
    state = dict(state or {})
    verdicts = {}
    for t in txns:
        ok = all(state.get(k) == v for k, v in t["asserts"])
        verdicts[t["transaction_id"]] = ok
        if ok:
            for k, v in t["updates"]:
                if v is None:
                    state.pop(k, None)
                else:
                    state[k] = v
    return verdicts, state


def check_verdicts(expected: dict, got: dict) -> tuple[int, list[str]]:
    """``(failed, problems)``: ``failed`` counts transactions with no
    verdict or a verdict unlike the reference; verdicts for transactions
    that were never submitted are problems too."""
    problems = []
    failed = 0
    for tid, ok in expected.items():
        if tid not in got:
            failed += 1
            problems.append(f"no verdict for {tid}")
        elif got[tid] != ok:
            failed += 1
            problems.append(f"verdict of {tid} is {got[tid]}, reference {ok}")
    extra = set(got) - set(expected)
    if extra:
        problems.append(f"{len(extra)} verdicts for unknown transactions")
    if len(got) != len(expected):
        problems.append(f"{len(got)} verdicts for {len(expected)} transactions")
    return failed, problems[:20]


def check_state(expected: dict, got: dict) -> list[str]:
    problems = []
    for k in sorted(set(expected) | set(got)):
        if expected.get(k) != got.get(k):
            problems.append(f"state[{k}] is {got.get(k)!r}, reference {expected.get(k)!r}")
    return problems[:20]


# ---------------------------------------------------------------------------
# near-duplicate gate
# ---------------------------------------------------------------------------

#: Exact word-trigram Jaccard that every rejected document must reach
#: with some admitted document ingested no later. The gate's MinHash
#: test (8 of 16 signature slots equal) passes pairs well below its 0.5
#: target now and then, and a rejection can be inherited through a
#: batch-mate, so the floor sits below 0.5; planted copies score 0.7 or
#: more with their original, and unrelated documents of the generated
#: corpus share almost no trigrams.
JACCARD_FLOOR = 0.3


def shingles(text: str, w: int = 3) -> frozenset:
    tokens = text.lower().split()
    return frozenset(" ".join(tokens[i:i + w]) for i in range(len(tokens) - w + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def check_dedup(
    batches: list[list[tuple[int, str]]],
    admitted: list[list[int]],
    state_ids: list[int],
) -> tuple[int, list[str]]:
    """Checks of the gate's outcome over one batch sequence.

    ``batches`` are the ingested ``(doc_id, text)`` batches in order,
    ``admitted`` the ids the gate returned for each batch, ``state_ids``
    the ids read back from the gate's state directory. Returns
    ``(failed, problems)``, where ``failed`` counts documents with a
    wrong outcome:

    1. every admitted id was ingested in that batch, and none is
       admitted twice (so admitted plus rejected equals ingested);
    2. every group of byte-identical texts has exactly one admitted
       member;
    3. every rejected document has an admitted document, ingested in the
       same or an earlier batch, with Jaccard at or above
       ``JACCARD_FLOOR``;
    4. the admissions add up to the ids in the gate's state.
    """
    problems: list[str] = []
    bad: set[int] = set()
    text = {}
    batch_of = {}
    for b, rows in enumerate(batches):
        for doc_id, t in rows:
            text[doc_id] = t
            batch_of[doc_id] = b

    admitted_batch: dict[int, int] = {}
    for b, ids in enumerate(admitted):
        for doc_id in ids:
            if batch_of.get(doc_id) != b:
                bad.add(doc_id)
                problems.append(f"doc {doc_id} admitted in batch {b} but not ingested there")
            elif doc_id in admitted_batch:
                bad.add(doc_id)
                problems.append(f"doc {doc_id} admitted twice")
            else:
                admitted_batch[doc_id] = b

    groups = defaultdict(list)
    for doc_id, t in text.items():
        groups[t].append(doc_id)
    for members in groups.values():
        n_in = sum(1 for m in members if m in admitted_batch)
        if len(members) > 1 and n_in != 1:
            bad.update(members)
            problems.append(f"exact-duplicate group {sorted(members)[:5]} has {n_in} admitted")

    sh = {d: shingles(t) for d, t in text.items()}
    index = defaultdict(set)
    for d in admitted_batch:
        for s in sh[d]:
            index[s].add(d)
    for doc_id in text:
        if doc_id in admitted_batch:
            continue
        cands = {d for s in sh[doc_id] for d in index[s]
                 if admitted_batch[d] <= batch_of[doc_id]}
        best = max((jaccard(sh[doc_id], sh[d]) for d in cands), default=0.0)
        if best < JACCARD_FLOOR:
            bad.add(doc_id)
            problems.append(f"doc {doc_id} rejected; closest admitted Jaccard {best:.2f}")

    n_admitted = sum(len(ids) for ids in admitted)
    state = set(state_ids)
    if n_admitted != len(state) or state != set(admitted_batch):
        problems.append(
            f"{n_admitted} admissions but {len(state)} distinct ids in the gate's state")
    return len(bad), problems[:20]
