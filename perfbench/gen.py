"""Seeded input generators for the benchmark.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed gives the same inputs on every machine and Python version, and
nothing depends on the program under test, so a change to the program
cannot move a workload's inputs.

Transaction rows use the program's wire shape (``ts``,
``kafka_partition``, ``kafka_offset``, ``transaction_id``, ``asserts``,
``updates``), where an assert or update is a ``(key, value)`` pair and a
``None`` value means "expect absent" in an assert and "delete" in an
update.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

N_PARTITIONS = 4
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _txn_id(rng: random.Random) -> str:
    return f"t{rng.getrandbits(64):016x}"


def _keys(rng: random.Random, keyspace: int, k: int) -> list[str]:
    return [f"k{i:07d}" for i in rng.sample(range(keyspace), k)]


def contended_log(
    seed: int, n_txns: int, keyspace: int, keys_per_txn: int = 4
) -> list[dict]:
    """Log with one expect-absent assert and versioned writes on every
    key of each transaction. ``n_txns * keys_per_txn / keyspace`` writes
    land on each key on average, which sets the wavefront's round count.

    Timestamps advance every third transaction, so ties on ``ts`` are
    broken by ``(kafka_partition, kafka_offset)``, as in a Kafka log."""
    rng = random.Random(seed)
    offsets = [0] * N_PARTITIONS
    log = []
    for i in range(n_txns):
        part = rng.randrange(N_PARTITIONS)
        keys = _keys(rng, keyspace, keys_per_txn)
        log.append(
            {
                "ts": BASE_TS + timedelta(seconds=i // 3),
                "kafka_partition": part,
                "kafka_offset": offsets[part],
                "transaction_id": _txn_id(rng),
                "asserts": [(keys[0], None)],
                "updates": [(k, f"{k}.v{i}") for k in keys],
            }
        )
        offsets[part] += 1
    return log


def cas_batches(
    seed: int,
    n_batches: int,
    batch_size: int,
    keyspace: int,
    keys_per_txn: int = 2,
    versions: int = 3,
    delete_share: float = 0.05,
) -> list[list[dict]]:
    """Interactive check-and-set batches for ``StreamyDB.execute``.

    Each assert either expects the key absent or guesses one of
    ``versions`` values; each update writes one of those values or, with
    ``delete_share``, deletes the key. The rows carry no serial-order
    tuple: the facade assigns arrival order, so a batch's serial order is
    its list order and every batch follows the one before it."""
    rng = random.Random(seed)
    batches = []
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            keys = _keys(rng, keyspace, keys_per_txn)
            asserts = [
                (k, None if rng.random() < 0.5 else f"v{rng.randrange(versions)}")
                for k in keys
            ]
            updates = [
                (k, None if rng.random() < delete_share else f"v{rng.randrange(versions)}")
                for k in keys
            ]
            batch.append(
                {"transaction_id": _txn_id(rng), "asserts": asserts, "updates": updates}
            )
        batches.append(batch)
    return batches


def sparse_log(seed: int, n_txns: int, keyspace: int, keys_per_txn: int = 2) -> list[dict]:
    """Stream input: few conflicts (a large keyspace), a mix of
    expect-absent and guessed-version asserts, and updates that write
    or delete. ``ts`` lies far in the past so the stream's watermark
    releases every request on the first heartbeat."""
    rng = random.Random(seed)
    offsets = [0] * N_PARTITIONS
    log = []
    for i in range(n_txns):
        part = rng.randrange(N_PARTITIONS)
        keys = _keys(rng, keyspace, keys_per_txn)
        log.append(
            {
                "ts": BASE_TS + timedelta(seconds=i // 3),
                "kafka_partition": part,
                "kafka_offset": offsets[part],
                "transaction_id": _txn_id(rng),
                "asserts": [(keys[0], None if rng.random() < 0.7 else "v0")],
                "updates": [(k, None if rng.random() < 0.05 else f"v{i % 2}") for k in keys],
            }
        )
        offsets[part] += 1
    return log


# Vocabulary and length range follow the make-up of the sf0.1
# documents.parquet test table (about 30 words, 10 to 100 tokens); the
# floor of 20 tokens keeps a one-word edit from dropping a planted
# near-duplicate below the Jaccard floor the checker uses.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _edit(rng: random.Random, tokens: list[str]) -> list[str]:
    """Replace one token in every 25 (at least one) with another word."""
    out = list(tokens)
    for _ in range(max(1, len(out) // 25)):
        i = rng.randrange(len(out))
        out[i] = rng.choice([w for w in WORDS if w != out[i]])
    return out


def documents(
    seed: int,
    n_docs: int,
    near_share: float = 0.15,
    exact_share: float = 0.05,
) -> list[tuple[int, str]]:
    """``(doc_id, text)`` rows in ingestion order, doc ids ascending.

    About ``exact_share`` of the documents repeat an earlier original
    byte for byte and about ``near_share`` are an edited copy of an
    earlier original (one word in 25 replaced). Copies are always made
    from originals, never from copies, so every member of a duplicate
    group is close to the group's original."""
    rng = random.Random(seed)
    originals: list[list[str]] = []
    docs = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < exact_share:
            tokens = rng.choice(originals)
        elif originals and r < exact_share + near_share:
            tokens = _edit(rng, rng.choice(originals))
        else:
            tokens = [rng.choice(WORDS) for _ in range(rng.randint(20, 100))]
            originals.append(tokens)
        docs.append((doc_id, " ".join(tokens)))
    return docs


def cut_batches(docs: list, n_batches: int) -> list[list]:
    """Cut the corpus into ``n_batches`` contiguous batches of equal
    size (the last takes the remainder)."""
    size = len(docs) // n_batches
    return [docs[i * size:(i + 1) * size if i < n_batches - 1 else len(docs)]
            for i in range(n_batches)]
