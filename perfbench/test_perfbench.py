"""Tests of the benchmark itself: seeded inputs and the correctness
check. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _waves(seed: int, mode: str, n: int = 3) -> list[pa.Table]:
    w = gen.Waves(seed, 2_000, 0.05, mode)
    return [w.next() for _ in range(n)]


@pytest.mark.parametrize(
    "make",
    [
        lambda s: [gen.initial_events(s, 2_000)],
        lambda s: _waves(s, "trickle"),
        lambda s: _waves(s, "bulk"),
        lambda s: [gen.orders(s)],
        lambda s: [gen.documents(s, 200)],
    ],
    ids=["events", "trickle", "bulk", "orders", "documents"],
)
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    a, b, c = make(7), make(7), make(8)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_trickle_wave_updates_recent_keys_and_inserts_new_ones():
    w = gen.Waves(3, 10_000, 0.01, "trickle")
    for _ in range(4):
        first_new = w.next_id
        lo = w._recent_starts[0]
        ids = w.next()["event_id"].to_numpy()
        new = ids[ids >= first_new]
        upd = ids[ids < first_new]
        assert len(new) == len(upd) == 50
        assert upd.min() >= lo
        assert len(set(ids.tolist())) == len(ids)


def test_versions_increase_across_waves():
    w = gen.Waves(3, 1_000, 0.1, "bulk")
    prev = pc.max(gen.initial_events(3, 1_000)["updated_ms"]).as_py()
    for _ in range(3):
        t = w.next()
        assert pc.min(t["updated_ms"]).as_py() > prev
        prev = pc.max(t["updated_ms"]).as_py()


def test_documents_plant_stated_duplicate_shares():
    docs = gen.documents(5, 2_000).to_pylist()
    norm = [" ".join(d["text"].lower().split()) for d in docs]
    exact = len(norm) - len(set(norm))
    assert 0.03 < exact / len(docs) < 0.07


def _land_and_store(tmp_path) -> tuple[str, str]:
    """Landing files plus a store generation holding their
    last-writer-wins, laid out as ParquetSyncedTable leaves it."""
    landing = tmp_path / "landing"
    landing.mkdir()
    gen.write(gen.initial_events(1, 1_000), str(landing / "w00000.parquet"))
    w = gen.Waves(1, 1_000, 0.05, "trickle")
    for i in range(1, 4):
        gen.write(w.next(), str(landing / f"w{i:05d}.parquet"))
    gen_dir = tmp_path / "store" / "a"
    gen_dir.mkdir(parents=True)
    (tmp_path / "store" / "_CURRENT").write_text("a")
    lww = duckdb.sql(
        f"""SELECT * FROM read_parquet('{landing}/*.parquet')
            QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY updated_ms DESC) = 1"""
    ).arrow()
    pq.write_table(lww, str(gen_dir / "part-0.parquet"))
    return str(landing), str(gen_dir)


class _Store:
    def __init__(self, current: str):
        self.current = current

    def _current(self) -> str:
        return self.current


def _sync_check(landing: str, gen_dir: str) -> list[dict]:
    wl = workloads.WORKLOADS["sync-trickle"]()
    wl.landing = landing
    wl.store = _Store(gen_dir)
    return wl.check()


def test_correct_store_passes(tmp_path):
    checks = _sync_check(*_land_and_store(tmp_path))
    assert checks[0]["ok"]
    assert run.tally([], checks, attempted=4) == (0, 0.0)


@pytest.mark.parametrize("column", ["value", "event_type", "updated_ms"])
def test_store_with_one_corrupted_row_is_reported_failed(tmp_path, column):
    landing, gen_dir = _land_and_store(tmp_path)
    path = os.path.join(gen_dir, "part-0.parquet")
    rows = pq.read_table(path).to_pylist()
    rows[17][column] = {"value": -1.0, "event_type": "tampered", "updated_ms": 1}[column]
    pq.write_table(pa.Table.from_pylist(rows, schema=gen.EVENTS_SCHEMA), path)
    checks = _sync_check(landing, gen_dir)
    assert not checks[0]["ok"]
    failed, error_rate = run.tally([], checks, attempted=4)
    assert failed == 1 and error_rate > 0


def test_query_reference_checks_its_store_and_reports_oracle_checks_once(tmp_path):
    landing, gen_dir = _land_and_store(tmp_path)
    path = os.path.join(gen_dir, "part-0.parquet")
    pq.write_table(pq.read_table(path).slice(1), path)
    wl = workloads.WORKLOADS["query-reference"]()
    wl.landing = landing
    wl.store = _Store(gen_dir)
    wl.results = [{"name": "a3_count_filtered", "ok": True, "rows": 1, "expected_rows": 1}]
    checks = wl.check()
    assert [c["name"] for c in checks] == ["store", "a3_count_filtered"]
    assert not checks[0]["ok"]
    assert run.tally([], checks, attempted=11)[0] == 1
    assert [c["name"] for c in wl.check()] == ["store"]


def test_store_missing_a_row_is_reported_failed(tmp_path):
    landing, gen_dir = _land_and_store(tmp_path)
    path = os.path.join(gen_dir, "part-0.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)
    assert not _sync_check(landing, gen_dir)[0]["ok"]


class _Frame:
    """The two DataFrame members ``result_check`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def test_result_check_is_order_insensitive_and_value_exact(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]}), path)
    sql = "SELECT k, v FROM t"
    assert check.result_check(_Frame(["v", "k"], [(2.0, 3), (0.5, 1), (1.25, 2)]), sql, {"t": path})["ok"]
    assert not check.result_check(_Frame(["k", "v"], [(1, 0.5), (2, 1.25), (3, 2.0000001)]), sql, {"t": path})["ok"]
    assert not check.result_check(_Frame(["k", "v"], [(1, 0.5), (2, 1.25)]), sql, {"t": path})["ok"]
