"""Spans around the program's public calls, for the traced run.

The benchmark never edits the program. A traced run wraps the calls it
makes, and the module attributes those calls go through, with spans:

- ``session.get_spark``;
- ``sync.sync_table``, ``sync.sync_once`` and ``sync.low_watermark``
  (replaced on the ``pypgsync_spark.sync`` module, so ``sync_table``
  calls ``sync_once`` and ``sync_once`` calls ``low_watermark`` through
  the wrappers), and ``ParquetSyncedTable.read`` / ``.write``;
- the benchmark's own calls: the landing-directory read and each query's
  build and run.

Each span carries the id of the operation it belongs to and its parent
span. Spans stay in memory until the run ends. While a span is open its
Spark jobs run under the job group ``<op>|<span>``, so the event log
attributes jobs, stages and task metrics to operations and layers.

An untraced run uses ``Tracer(enabled=False)``: ``span`` is then a bare
``yield`` and nothing is installed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

GROUP_SEP = "|"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str = "setup"
        self.spark = None
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"{self.op}{GROUP_SEP}{name}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]["name"]
                    sc.setJobGroup(f"{self.op}{GROUP_SEP}{parent}", parent)
                else:
                    sc.setJobGroup(f"{self.op}{GROUP_SEP}", "")

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace the program's public sync and session entry points
        with span-recording wrappers; ``uninstall`` puts them back."""
        if not self.enabled:
            return
        from pypgsync_spark import session, sync

        targets = [
            (session, "get_spark", "session.get_spark"),
            (sync, "sync_table", "sync.sync_table"),
            (sync, "sync_once", "sync.sync_once"),
            (sync, "low_watermark", "sync.low_watermark"),
            (sync.ParquetSyncedTable, "read", "sync.store_read"),
            (sync.ParquetSyncedTable, "write", "sync.store_write"),
        ]
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(name, orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``dur`` and ``self`` (duration minus the union of
    its direct children's intervals)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        dur = s["end"] - s["start"]
        out.append({**s, "dur": dur, "self": dur - covered})
    return out


def make_stream_listener(sink: list):
    """A StreamingQueryListener that appends every progress report to
    ``sink`` as a plain dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "name": p.name,
                    "run_id": str(p.runId),
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
