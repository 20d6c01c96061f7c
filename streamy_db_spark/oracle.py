"""Pure-Python serial-replay oracle (SURVEY.md §5.2.1).

The ground truth the distributed engine must match: fold transactions in
(ts, kafka_partition, kafka_offset, transaction_id) order over a dict —
the id breaks the tie between transactions exploded from one
List[Transaction] record, as the reference sorter does
(flink/StreamyDb.scala:44-49) — commit iff every
assert matches under null-safe equality (reference
flink/StreamyDb.scala:166-172), apply updates atomically (NULL = delete,
flink:111-118). ~30 lines, obviously correct, O(n) single-threaded.
"""

from __future__ import annotations

from typing import Any


def serial_replay(
    transactions: list[dict[str, Any]],
    initial_state: dict[str, str] | None = None,
) -> tuple[dict[str, bool], dict[str, str]]:
    """transactions: dicts with ts (orderable), kafka_partition,
    kafka_offset, transaction_id, asserts, updates — asserts/updates are
    lists of (key, value-or-None) tuples or {'key','value'} dicts.

    Returns ({transaction_id: succeeded}, final_state_dict).
    """
    state: dict[str, str] = dict(initial_state or {})
    results: dict[str, bool] = {}

    def kv(item):
        if isinstance(item, dict):
            return item["key"], item["value"]
        return item[0], item[1]

    ordered = sorted(
        transactions,
        key=lambda t: (
            t["ts"], t["kafka_partition"], t["kafka_offset"], t["transaction_id"]
        ),
    )
    for txn in ordered:
        ok = True
        for a in txn["asserts"]:
            key, expected = kv(a)
            if state.get(key) != expected:
                ok = False
                # NOTE: reference evaluates the full conjunction (no
                # short-circuit emission, flink:163 comment) — outcome
                # identical either way.
        results[txn["transaction_id"]] = ok
        if ok:
            # defensive last-wins on duplicate keys (SURVEY.md §2.5)
            for u in txn["updates"]:
                key, value = kv(u)
                if value is None:
                    state.pop(key, None)
                else:
                    state[key] = value
    return results, state
