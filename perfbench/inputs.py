"""Seeded benchmark inputs, generated inside the checkout and cached by seed
and size.

Event timelines, documents and embeddings are written by this module from
a fixed generator seed, so the benchmark reads nothing outside its
checkout. The workload seed sets a key offset added to ``user_id``,
``doc_id`` and ``vec_id``: it moves entities between hash buckets and
partitions without changing any timeline, duplicate cluster or
near-duplicate pair.

Each cached directory records the row counts it was written with; a
directory whose parquet row counts differ is regenerated.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed generator seed of the event timelines (the "tier").
TIER_SEED = 20240101
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def key_offset(seed: int) -> int:
    """Entity-key offset for a workload seed (keeps every key < 2**40)."""
    return (seed % 100_003) * 1_000_000


def parquet_rows(path: str) -> int:
    """Row count from the parquet footer."""
    return pq.ParquetFile(path).metadata.num_rows


def _write(out: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def events_table(n_users: int, offset: int, rng: np.random.Generator,
                 hot_users: int, hot_events: int) -> pa.Table:
    """Event timelines shaped like the sf-scale test data: 50-86 events per
    user spread over 30 days, five event types, 2-decimal values. Each
    (user_id, ts) is unique, so every window order is total. The first
    ``hot_users`` users get ``hot_events`` events each instead."""
    counts = rng.integers(50, 87, size=n_users)
    counts[:hot_users] = hot_events
    user = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    span = 30 * 86_400 * 1_000_000
    ts = rng.integers(0, span, size=len(user), dtype=np.int64)
    order = np.lexsort((ts, user))
    user, ts = user[order], ts[order]
    # bump the (rare) equal timestamps inside one user by a microsecond
    for _ in range(8):
        dup = np.flatnonzero((np.diff(ts) == 0) & (np.diff(user) == 0)) + 1
        if not len(dup):
            break
        ts[dup] += 1
    # event_id follows global time order, as in the sf-scale test data
    glob = np.argsort(ts, kind="stable")
    event_id = np.empty(len(ts), dtype=np.int64)
    event_id[glob] = np.arange(len(ts), dtype=np.int64)
    n = len(ts)
    return pa.table({
        "event_id": event_id,
        "ts": _ts(EPOCH_US + ts),
        "user_id": user + offset,
        "event_type": EVENT_TYPES[rng.integers(0, 5, size=n)],
        "value": np.round(rng.uniform(0.01, 500.0, size=n), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
        ),
    })


def write_events(out: str, n_users: int, seed: int | None, hot_users: int = 0,
                 hot_events: int = 0) -> int:
    """Write ``events.parquet`` (the fixed tier timelines) into ``out`` with
    the seed's key offset, or none for ``seed=None``; returns the rows."""
    rng = np.random.default_rng(TIER_SEED)
    off = 0 if seed is None else key_offset(seed)
    return _write(out, "events", events_table(n_users, off, rng, hot_users, hot_events))


def documents_table(n_docs: int, mega: int, offset: int,
                    rng: np.random.Generator) -> pa.Table:
    """Space-joined distinct-token documents: one ``mega``-doc near-duplicate
    cluster (a 24-token template with 2 of its tokens replaced per doc),
    clusters of 2-6 near-copies (1-4 replaced tokens of 24), and background
    docs of 24 tokens drawn from a 20,000-token vocabulary, whose pairwise
    token Jaccard is far below the dedup threshold."""
    vocab, width = 20_000, 24
    fresh = iter(range(vocab, 10**9))
    texts: list[str] = []

    def near_copies(k: int, lo: int, hi: int) -> None:
        tpl = rng.choice(vocab, size=width, replace=False)
        texts.append(" ".join(f"w{t}" for t in tpl))
        for _ in range(k - 1):
            m = int(rng.integers(lo, hi + 1))
            keep = np.sort(rng.permutation(width)[: width - m])
            texts.append(" ".join([f"w{tpl[p]}" for p in keep]
                                  + [f"x{next(fresh)}" for _ in range(m)]))

    near_copies(mega, 2, 2)
    while len(texts) < n_docs // 3:
        near_copies(int(rng.integers(2, 7)), 1, 4)
    while len(texts) < n_docs:
        texts.append(" ".join(f"w{t}" for t in rng.choice(vocab, size=width, replace=False)))
    order = rng.permutation(len(texts))  # clusters are not contiguous in doc_id
    return pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64) + offset,
        "text": [texts[i] for i in order],
    })


def embeddings_table(n_vecs: int, dim: int, offset: int,
                     rng: np.random.Generator) -> pa.Table:
    """float32 vectors: a tenth are noisy copies of other vectors (cosine to
    their source ~0.99), the rest independent Gaussian directions (cosine
    ~0 +- 0.13 at 64 dimensions), so no pair lies near a 0.9 threshold."""
    n_copies = n_vecs // 10
    base = rng.standard_normal((n_vecs - n_copies, dim))
    src = rng.integers(0, len(base), size=n_copies)
    noise = rng.standard_normal((n_copies, dim)) * 0.1
    vecs = np.concatenate([base, base[src] + noise]).astype(np.float32)
    vecs = vecs[rng.permutation(n_vecs)]
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64) + offset,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def write_corpus(out: str, n_docs: int, mega: int, n_vecs: int, seed: int) -> dict[str, int]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``out``
    with the seed's key offset; returns their rows."""
    rng = np.random.default_rng(TIER_SEED)
    off = key_offset(seed)
    return {"documents": _write(out, "documents", documents_table(n_docs, mega, off, rng)),
            "embeddings": _write(out, "embeddings", embeddings_table(n_vecs, 64, off, rng))}


class InputCache:
    """One directory per (workload, size, seed) under ``root``; holds the
    tables, their row counts and the expected output digests."""

    def __init__(self, root: str, workload: str, size_tag: str, seed: int):
        self.dir = os.path.join(root, f"{workload}-{size_tag}-s{seed}")
        self._meta_path = os.path.join(self.dir, "meta.json")

    def load(self) -> dict | None:
        """The cached metadata, or None when absent or when any table's
        parquet row count differs from the recorded one."""
        try:
            with open(self._meta_path) as fh:
                meta = json.load(fh)
        except (OSError, ValueError):
            return None
        for table, n in meta["rows"].items():
            path = os.path.join(self.dir, f"{table}.parquet")
            try:
                if parquet_rows(path) != n:
                    return None
            except (OSError, pa.ArrowInvalid):
                return None
        for exp in meta["expected"].values():
            if exp.endswith(".parquet") and not os.path.exists(os.path.join(self.dir, exp)):
                return None
        return meta

    def reset(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def save(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._meta_path)
