"""Seeded input generator for the benchmark workloads.

Every table the program reads is made here, from the workload seed
alone, and written as parquet; the program under test sees only the
files.

- ``events`` rows: the fixtures' ``events`` schema (FIXTURES.md: event_id, ts,
  user_id, event_type, value, props) plus the ``updated_ms`` version
  column the sync keys on. Value domains follow the fixture: ts in
  2024-01-01..01-30 UTC, 150 users, five event types, value in
  [0.01, 250), props ``{"k": 0..99}``.
- ``Waves``: the stream of delta files landed on a store. A trickle wave
  is ``rate`` of the initial store's rows, half new keys and half
  updates to keys inserted in the last ``recent`` waves. A bulk wave
  has the same split, but its updates hit uniformly random existing
  keys. Versions strictly increase from wave to wave and stay far in
  the past, so every landed row falls inside a sync's watermark window.
- ``orders``: the fixture's ``orders`` schema, 15,000 rows over 1,000
  customers (customer 42 included), for the reference's top-k queries.
- ``documents``: a word-soup corpus in the fixture's ``documents``
  schema. ``NEAR_DUP_SHARE`` of the documents are edited copies of an
  earlier original (one token in ten replaced, 3-gram Jaccard well
  above the catalog's 0.3 threshold) and ``EXACT_DUP_SHARE`` are the
  same text with case and spacing changed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
N_USERS = 150
TS_LO_US = 1704067200_000000  # 2024-01-01 UTC
TS_SPAN_US = 30 * 86400_000000  # through 2024-01-30
VERSION_BASE_MS = 1735689600000  # 2025-01-01 UTC: initial store versions
WAVE_VERSION_STEP_MS = 10_000_000  # each wave's versions start this far apart

NEAR_DUP_SHARE = 0.20
EXACT_DUP_SHARE = 0.05
VOCAB = np.array(
    "a the of and to in key agg row scan slow fast table value part hash merge "
    "batch spark line sort window big small data column join order customer "
    "query stream filter group vector plan stage task shuffle index bloom "
    "state store sink source delta commit offset watermark trigger record "
    "file block page cache lock queue graph node edge rank score token word".split()
)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.6, 0.1, 0.1, 0.1, 0.1])

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("updated_ms", pa.int64()),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, table, wave)."""
    return np.random.default_rng([seed, *stream])


def _event_rows(rng: np.random.Generator, ids: np.ndarray, versions: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.Table.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(TS_LO_US + rng.integers(0, TS_SPAN_US, n), pa.int64()).cast(
                pa.timestamp("us")
            ),
            pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            pa.array(np.round(rng.uniform(0.01, 250.0, n), 2)),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            pa.array(versions, pa.int64()),
        ],
        schema=EVENTS_SCHEMA,
    )


def initial_events(seed: int, n_rows: int) -> pa.Table:
    """The store's first load: keys 1..n_rows, distinct versions."""
    ids = np.arange(1, n_rows + 1, dtype=np.int64)
    return _event_rows(_rng(seed, 1), ids, VERSION_BASE_MS + ids)


class Waves:
    """Deterministic stream of delta waves over a store that starts with
    keys 1..n_initial. ``mode`` is ``"trickle"`` (updates hit keys
    inserted in the last ``recent`` waves) or ``"bulk"`` (updates hit
    uniformly random existing keys). Wave ``w`` depends only on the seed,
    the mode and ``w``'s predecessors, so the same seed lands the same
    rows in the same order however many waves a run consumes."""

    def __init__(self, seed: int, n_initial: int, rate: float, mode: str, recent: int = 5):
        if mode not in ("trickle", "bulk"):
            raise ValueError(f"unknown wave mode {mode!r}")
        self.seed = seed
        self.mode = mode
        self.rows_per_wave = max(2, int(round(n_initial * rate)))
        self.recent = recent
        self.next_id = n_initial + 1
        self.wave = 0
        # first key of each of the last `recent` inserts (initial load included)
        self._recent_starts = [max(1, n_initial + 1 - self.rows_per_wave)]

    def next(self) -> pa.Table:
        self.wave += 1
        rng = _rng(self.seed, 2 if self.mode == "trickle" else 3, self.wave)
        n_upd = self.rows_per_wave // 2
        n_new = self.rows_per_wave - n_upd
        lo = self._recent_starts[0] if self.mode == "trickle" else 1
        upd = rng.choice(np.arange(lo, self.next_id, dtype=np.int64), n_upd, replace=False)
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self._recent_starts = (self._recent_starts + [self.next_id])[-self.recent:]
        self.next_id += n_new
        ids = np.concatenate([upd, new])
        rng.shuffle(ids)
        base = VERSION_BASE_MS + self.wave * WAVE_VERSION_STEP_MS
        return _event_rows(rng, ids, base + np.arange(len(ids), dtype=np.int64))


def orders(seed: int, n_rows: int = 15_000, n_customers: int = 1_000) -> pa.Table:
    rng = _rng(seed, 4)
    day_ms = 86400_000
    lo_ms = 788918400000  # 1995-01-01
    n_days = 2404  # through 2001-08-01
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n_rows + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n_rows), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_rows)]),
            "o_totalprice": pa.array(np.round(rng.uniform(800.0, 500_000.0, n_rows), 2)),
            "o_orderdate": pa.array(
                lo_ms + rng.integers(0, n_days, n_rows) * day_ms, pa.int64()
            ).cast(pa.timestamp("ms")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_rows)
                ]
            ),
        }
    )


def documents(seed: int, n_docs: int) -> pa.Table:
    """Corpus with planted exact and near duplicates (shares above)."""
    rng = _rng(seed, 5)
    texts: list[str] = []
    originals: list[int] = []
    kinds = rng.choice(
        3, n_docs, p=[1 - NEAR_DUP_SHARE - EXACT_DUP_SHARE, NEAR_DUP_SHARE, EXACT_DUP_SHARE]
    )
    for i in range(n_docs):
        if kinds[i] == 0 or not originals:
            words = VOCAB[rng.integers(0, len(VOCAB), rng.integers(20, 81))]
            originals.append(i)
            texts.append(" ".join(words))
            continue
        src = texts[originals[rng.integers(0, len(originals))]]
        if kinds[i] == 1:
            words = np.array(src.split())
            hit = rng.random(len(words)) < 0.1
            words[hit] = VOCAB[rng.integers(0, len(VOCAB), int(hit.sum()))]
            texts.append(" ".join(words))
        else:
            texts.append("  " + src.upper().replace(" ", "   ") + " ")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 18, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
