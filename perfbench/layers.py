"""Per-layer metrics of a traced run, named by the program's modules.

Inputs: the run's spans (``spans.Tracer``), the Spark event log (parsed
with ``scripts/profile_query.py``'s reader), the streaming progress the
listener collected, and the per-operation records. Per-operation
figures are medians over the timed operations; ``spark.*`` figures are
totals over the jobs submitted inside the timed windows, divided by the
number of operations, except ``spark.core_busy_ratio`` (task run time /
(window x cores)). A layer the workload does not exercise reads 0.
Each ratio carries its base.
"""

from __future__ import annotations

import importlib.util
import os
import time
from collections import defaultdict

from spans import GROUP_SEP, self_times
from stats import median

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def settle(progress: list, quiet_s: float = 0.5, max_s: float = 10.0) -> int:
    """Wait until the streaming listener has delivered every pending
    progress report (none new for ``quiet_s``); returns their count."""
    t_end = time.monotonic() + max_s
    n = len(progress)
    while time.monotonic() < t_end:
        time.sleep(quiet_s)
        if len(progress) == n:
            break
        n = len(progress)
    return n


def _read_event_log(event_dir: str) -> list[dict]:
    root = os.getcwd()
    spec = importlib.util.spec_from_file_location(
        "profile_query", os.path.join(root, "scripts", "profile_query.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._parse_events(event_dir)


def _is_python_traffic(name: str) -> bool:
    n = name.lower()
    return "python" in n and ("data sent" in n or "data returned" in n)


def spark_model(events: list[dict]) -> dict:
    """Jobs (group, stages, submission time) and per-stage task totals.
    A run restarts its SparkContext between set-ups, and each context
    numbers jobs and stages from 0, so ids are keyed by (log, id)."""
    jobs: dict[tuple, dict] = {}
    stages: dict[tuple, dict] = defaultdict(
        lambda: {"tasks": 0, "failed": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                 "sw": 0, "sr": 0, "spill": 0, "py": 0}
    )
    log = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            log += 1
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[(log, ev["Job ID"])] = {
                "group": props.get("spark.jobGroup.id") or "",
                "stages": [(log, sid) for sid in ev.get("Stage IDs") or []],
                "submit_ms": ev.get("Submission Time") or 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages[(log, ev["Stage ID"])]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["failed"] += (ev.get("Task End Reason") or {}).get("Reason") != "Success"
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["sw"] += sw.get("Shuffle Bytes Written", 0)
            st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                if _is_python_traffic(str(acc.get("Name", ""))):
                    try:
                        st["py"] += int(acc.get("Update") or 0)
                    except (TypeError, ValueError):
                        pass
    owner: dict[tuple, tuple] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["ran"] = [sid for sid in job["stages"] if owner.get(sid) == jid and sid in stages]
    return {"jobs": jobs, "stages": stages}


def _sum(model: dict, job_ids, key: str) -> float:
    return sum(model["stages"][sid][key] for jid in job_ids for sid in model["jobs"][jid]["ran"])


def _jobs_of(model: dict, op: str, span: str | None = None) -> list[int]:
    out = []
    for jid, job in model["jobs"].items():
        g_op, _, g_span = job["group"].partition(GROUP_SEP)
        if g_op == op and (span is None or g_span == span):
            out.append(jid)
    return out


def _med(values) -> float:
    v = median(list(values))
    return 0.0 if v is None else v


def per_layer(wl, recs, spans, event_dir, progress, window_s, windows_ms, cores) -> dict:
    timed = self_times(spans)
    ops = [r["op"] for r in recs]
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in timed:
        by_op[s["op"]].append(s)

    def span_med(name: str, field: str = "dur") -> float:
        return _med(sum(s[field] for s in by_op[op] if s["name"] == name) for op in ops)

    model = spark_model(_read_event_log(event_dir))
    from workloads import ReferenceQueries, SyncWorkload

    is_sync = isinstance(wl, SyncWorkload)
    is_query = isinstance(wl, ReferenceQueries)
    out: dict[str, dict] = {}

    def put(name, value, unit, base=None, n=len(ops)):
        out[name] = {"value": float(value), "unit": unit, "n": n}
        if base is not None:
            out[name]["base"] = base

    sessions = [s["dur"] for s in timed if s["name"] == "session.get_spark"]
    put("session.get_spark_s", _med(sessions), "s", n=len(sessions))
    put("sources.load_s", span_med("sources.load"), "s")
    put("sync.store_read_s", span_med("sync.store_read"), "s")
    put("sync.low_watermark_s", span_med("sync.low_watermark"), "s")
    put("sync.sync_once_self_s", span_med("sync.sync_once", "self"), "s")
    put("sync.store_write_s", span_med("sync.store_write"), "s")

    def per_op(fn) -> float:
        return _med(fn(_jobs_of(model, op)) for op in ops)

    n_jobs = per_op(len)
    n_stages = per_op(lambda js: sum(len(model["jobs"][j]["ran"]) for j in js))
    n_tasks = per_op(lambda js: _sum(model, js, "tasks"))
    put("sync.jobs_per_iter", n_jobs if is_sync else 0, "count")
    put("sync.stages_per_iter", n_stages if is_sync else 0, "count")
    put("sync.tasks_per_iter", n_tasks if is_sync else 0, "count")
    landed = sum(r.get("rows", 0) for r in recs)
    put("sync.delta_rows_per_landed_row",
        sum(r.get("delta_rows", 0) for r in recs) / landed if landed else 0, "ratio",
        {"landed_rows": landed})
    landed_b = sum(r.get("bytes", 0) for r in recs)
    put("store.bytes_written_per_landed_byte",
        sum(r.get("written_bytes", 0) for r in recs) / landed_b if landed_b else 0, "ratio",
        {"landed_bytes": landed_b})
    if is_sync:
        from workloads import du

        nbytes = du(wl.store_path)[0]
        cur_files = du(wl.current)[1]
    else:
        nbytes = cur_files = 0
    put("store.files", cur_files, "count", n=1)
    put("store.bytes_on_disk", nbytes, "B", n=1)

    def merge_med(key: str) -> float:
        return _med(_sum(model, _jobs_of(model, op, "sync.store_write"), key) for op in ops)

    put("merge.shuffle_write_bytes_per_iter", merge_med("sw") if is_sync else 0, "B")
    put("merge.shuffle_read_bytes_per_iter", merge_med("sr") if is_sync else 0, "B")
    put("merge.spill_bytes",
        sum(_sum(model, _jobs_of(model, op, "sync.store_write"), "spill") for op in ops), "B")

    for q in ReferenceQueries.QUERIES + ReferenceQueries.DEDUP_QUERIES:
        mine = [r for r in recs if r.get("query") == q]
        put(f"query.{q}.build_s", _med(r["build_s"] for r in mine), "s", n=len(mine))
        put(f"query.{q}.run_s", _med(r["run_s"] for r in mine), "s", n=len(mine))
    put("queries.jobs_per_query", n_jobs if is_query else 0, "count")
    put("queries.stages_per_query", n_stages if is_query else 0, "count")

    drains: dict[str, list[dict]] = defaultdict(list)
    for p in progress:
        drains[p["run_id"]].append(p)
    ds = list(drains.values())
    put("streaming.batches", _med(len(d) for d in ds), "count")
    for phase in STREAM_PHASES:
        put(f"streaming.{phase}_ms",
            _med(sum(p["durationMs"].get(phase, 0) for p in d) for d in ds), "ms")
    put("streaming.state_rows", _med(d[-1]["state_rows"] for d in ds), "count")
    put("streaming.state_memory_bytes", _med(d[-1]["state_memory_bytes"] for d in ds), "B")

    # per pass over the dedup queries: d1 and d16 together
    dedup = [r["op"] for r in recs if r.get("query") in ReferenceQueries.DEDUP_QUERIES]
    dedup_jobs = [j for op in dedup for j in _jobs_of(model, op)]
    passes = max(len(dedup) // len(ReferenceQueries.DEDUP_QUERIES), 1)
    put("dedup.task_cpu_s", _sum(model, dedup_jobs, "cpu_ns") / 1e9 / passes, "s", n=passes)
    put("dedup.shuffle_bytes",
        (_sum(model, dedup_jobs, "sw") + _sum(model, dedup_jobs, "sr")) / passes, "B", n=passes)
    put("dedup.python_data_bytes", _sum(model, dedup_jobs, "py") / passes, "B", n=passes)

    win = [
        j for j, job in model["jobs"].items()
        if any(lo <= job["submit_ms"] <= hi for lo, hi in windows_ms)
    ]
    n = max(len(ops), 1)
    put("spark.jobs", len(win) / n, "count/op")
    put("spark.stages", sum(len(model["jobs"][j]["ran"]) for j in win) / n, "count/op")
    put("spark.tasks", _sum(model, win, "tasks") / n, "count/op")
    put("spark.tasks_failed", _sum(model, win, "failed") / n, "count/op")
    run_s = _sum(model, win, "run_ms") / 1e3
    put("spark.task_run_s", run_s / n, "s/op")
    put("spark.task_cpu_s", _sum(model, win, "cpu_ns") / 1e9 / n, "s/op")
    put("spark.gc_s", _sum(model, win, "gc_ms") / 1e3 / n, "s/op")
    put("spark.shuffle_write_bytes", _sum(model, win, "sw") / n, "B/op")
    put("spark.shuffle_read_bytes", _sum(model, win, "sr") / n, "B/op")
    put("spark.spill_bytes", _sum(model, win, "spill") / n, "B/op")
    put("spark.core_busy_ratio", run_s / (window_s * cores), "ratio",
        {"window_s": window_s, "cores": cores})
    return out
