"""The benchmark's workloads. Each is a closed loop: one client that
starts an operation only after the previous one returned.

- ``sync-trickle``: continuous mode. Each operation lands one delta file
  of 0.1% of the store's initial rows (half new keys, half updates to
  keys inserted in the last five waves) and calls ``sync.sync_table``.
- ``query-reference``: the reference's query surface through
  ``queries.REGISTRY`` over an ``events`` store that setup builds with
  ``sync_table`` waves, plus two queries of the near-duplicate family
  over a generated ``documents`` corpus.

A workload provides ``setup`` (input generation and initial store
build), ``warm`` (untimed operations before the timed window), ``passes``
(the closed-loop operations, one pass at a time), ``check``
(correctness against DuckDB, outside the timed window) and ``metrics``
(its end-to-end figures).
"""

from __future__ import annotations

import os
import time

import check
import gen
import stats

KEYS = ["event_id"]
VERSION = "updated_ms"


def du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class StoreWorkload:
    """An ``events`` store that ``sync_table`` builds from the parquet
    files landed in ``self.landing``."""

    def _store_check(self) -> dict:
        self.current = self.store._current()
        res = check.store_check(
            os.path.join(self.landing, "*.parquet"), os.path.join(self.current, "*.parquet")
        )
        self.live_rows = res["rows"]
        return {"name": "store", **res}


class SyncWorkload(StoreWorkload):
    """Land a wave, then one ``sync_table`` call: one operation."""

    mode = "trickle"

    def __init__(self, n_rows: int = 200_000, rate: float = 0.001, warmup: int = 5):
        self.name = "sync-trickle"
        self.n_rows = n_rows
        self.rate = rate
        self.warmup = warmup
        self.ops_per_pass = 1

    def describe(self) -> dict:
        return {
            "store_rows": self.n_rows,
            "rows_per_wave": gen.Waves(0, self.n_rows, self.rate, self.mode).rows_per_wave,
            "update_share": 0.5,
            "update_keys": "inserted in the last 5 waves",
            "warmup_iterations": self.warmup,
        }

    def setup(self, ctx, work: str) -> None:
        from pypgsync_spark import sync

        self.ctx = ctx
        self.landing = os.path.join(work, "landing")
        self.store_path = os.path.join(work, "store")
        self.store = sync.ParquetSyncedTable(ctx.spark, self.store_path)
        self.waves = gen.Waves(ctx.seed, self.n_rows, self.rate, self.mode)
        gen.write(gen.initial_events(ctx.seed, self.n_rows), self._file(0))
        sync.sync_table(self._source(), self.store, KEYS, VERSION)

    def _file(self, wave: int) -> str:
        return os.path.join(self.landing, f"w{wave:05d}.parquet")

    def _source(self):
        with self.ctx.tracer.span("sources.load"):
            return self.ctx.spark.read.parquet(self.landing)

    def iteration(self) -> dict:
        from pypgsync_spark import sync

        wave = self.waves.next()
        nbytes = gen.write(wave, self._file(self.waves.wave))
        t0 = time.perf_counter()
        src = self._source()
        t1 = time.perf_counter()
        st = sync.sync_table(src, self.store, KEYS, VERSION)
        t2 = time.perf_counter()
        if st.delta_rows < wave.num_rows:
            raise RuntimeError(f"delta has {st.delta_rows} rows, {wave.num_rows} landed")
        rec = {
            "latency": t2 - t0,
            "sync_s": t2 - t1,
            "rows": wave.num_rows,
            "bytes": nbytes,
            "delta_rows": st.delta_rows,
        }
        if self.ctx.tracer.enabled:
            rec["written_bytes"] = du(self.store._current())[0]
        return rec

    def warm(self, run_op) -> None:
        for i in range(self.warmup):
            run_op(f"warmup{i}", self.iteration)

    def passes(self):
        while True:
            yield [("sync", self.iteration)]

    def check(self) -> list[dict]:
        return [self._store_check()]

    def metrics(self, recs: list[dict], window_s: float) -> dict:
        lat = [r["latency"] for r in recs]
        sync_s = sum(r["sync_s"] for r in recs)
        rows = sum(r["rows"] for r in recs)
        nbytes, _files = du(self.store_path)
        return {
            "sync_rows_per_s": {"value": rows / sync_s, "unit": "rows/s", "n": len(recs)},
            **stats.timing("iter", lat),
            "store_bytes_per_row": {
                "value": nbytes / max(self.live_rows, 1),
                "unit": "B/row",
                "n": 1,
            },
        }


class ReferenceQueries(StoreWorkload):
    """One registry query call (build + noop write) is one operation; a
    pass runs every query once, in a fixed order. ``events`` is the
    store as sync leaves it: an initial load plus ``waves`` bulk sync
    waves. ``documents`` is a corpus with planted duplicates."""

    QUERIES = [
        "a3_count_filtered",
        "o2_topk_single_key",
        "o3_topk_per_key",
        "p9_filter_expr",
        "a4_user_balance",
        "a5_incremental_balance",
        "t5_stateful_balance",
        "w1_row_number_boundaries",
        "c8_sync_lag",
    ]
    # operators.dedup, operators.incremental and functions.text
    DEDUP_QUERIES = ["d1_dedup_exact", "d16_bloom_incremental_dedup"]

    def __init__(self, n_rows: int = 30_000, waves: int = 1, rate: float = 0.05,
                 n_docs: int = 200, warm_passes: int = 1):
        self.name = "query-reference"
        self.queries = self.QUERIES + self.DEDUP_QUERIES
        self.ops_per_pass = len(self.queries)
        self.n_rows = n_rows
        self.n_waves = waves
        self.rate = rate
        self.n_docs = n_docs
        self.warm_passes = warm_passes
        self.results: list[dict] = []

    def describe(self) -> dict:
        return {"initial_rows": self.n_rows, "sync_waves": self.n_waves, "wave_rate": self.rate,
                "orders_rows": 15_000, "documents": self.n_docs,
                "near_dup_share": gen.NEAR_DUP_SHARE, "exact_dup_share": gen.EXACT_DUP_SHARE,
                "warm_passes": self.warm_passes}

    def setup(self, ctx, work: str) -> None:
        from pypgsync_spark import sync

        self.ctx = ctx
        self.landing = os.path.join(work, "landing")
        self.store = sync.ParquetSyncedTable(ctx.spark, os.path.join(work, "store"))
        gen.write(gen.initial_events(ctx.seed, self.n_rows),
                  os.path.join(self.landing, "w00000.parquet"))
        sync.sync_table(ctx.spark.read.parquet(self.landing), self.store, KEYS, VERSION)
        waves = gen.Waves(ctx.seed, self.n_rows, self.rate, "bulk")
        for w in range(1, self.n_waves + 1):
            gen.write(waves.next(), os.path.join(self.landing, f"w{w:05d}.parquet"))
            sync.sync_table(ctx.spark.read.parquet(self.landing), self.store, KEYS, VERSION)
        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir)
        os.symlink(self.store._current(), os.path.join(self.sf_dir, "events.parquet"))
        gen.write(gen.orders(ctx.seed), os.path.join(self.sf_dir, "orders.parquet"))
        gen.write(gen.documents(ctx.seed, self.n_docs),
                  os.path.join(self.sf_dir, "documents.parquet"))

    def views(self) -> dict:
        return {
            "events": os.path.join(self.store._current(), "*.parquet"),
            "orders": os.path.join(self.sf_dir, "orders.parquet"),
            "documents": os.path.join(self.sf_dir, "documents.parquet"),
        }

    def call(self, qname: str) -> dict:
        from pypgsync_spark.queries import REGISTRY

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span(f"query.{qname}.build"):
            df = REGISTRY[qname].fn(self.ctx.spark, self.sf_dir)
        t1 = time.perf_counter()
        with tr.span(f"query.{qname}.run"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {"latency": t2 - t0, "query": qname, "build_s": t1 - t0, "run_s": t2 - t1}

    def passes(self):
        while True:
            yield [(q, lambda q=q: self.call(q)) for q in self.queries]

    def warm(self, run_op) -> None:
        """One untimed pass that collects every result and checks it
        against the query's DuckDB oracle, then ``warm_passes`` untimed
        passes of the timed kind. The first pass of the timed kind runs
        about 25% slower than the steady state, the second about 5%
        (JIT compilation in the JVM), so the window starts after it."""
        from pypgsync_spark.queries import REGISTRY

        def checked(q):
            res = check.result_check(
                REGISTRY[q].fn(self.ctx.spark, self.sf_dir), REGISTRY[q].oracle, self.views()
            )
            self.results.append({"name": q, **res})

        for q in self.queries:
            run_op(f"check.{q}", lambda q=q: checked(q))
        for i, one_pass in zip(range(self.warm_passes), self.passes()):
            for q, fn in one_pass:
                run_op(f"warmup{i}.{q}", fn)

    def check(self) -> list[dict]:
        """The store against its landed rows, plus the checks of the
        warm-up pass since the last call."""
        out, self.results = [self._store_check(), *self.results], []
        return out

    def metrics(self, recs: list[dict], window_s: float) -> dict:
        out = stats.timing("query", [r["latency"] for r in recs])
        dedup = [r for r in recs if r["query"] in self.DEDUP_QUERIES]
        k = len(self.DEDUP_QUERIES)
        pass_s = [sum(r["latency"] for r in dedup[i : i + k]) for i in range(0, len(dedup), k)]
        out["docs_per_s"] = {
            "value": self.n_docs / stats.median(pass_s),
            "unit": "docs/s",
            "n": len(pass_s),
        }
        return out


WORKLOADS = {
    "sync-trickle": SyncWorkload,
    "query-reference": ReferenceQueries,
}
