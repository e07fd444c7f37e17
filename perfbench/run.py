"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sync-trickle --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json,
``--trace 1`` the per-layer ones. The lines before it print every metric
of the run by name, with unit and sample count; the whole result is also
written to ``.perfbench_out/<workload>-s<seed>-t<trace>.json``.

A run sets up three times, warms up untimed, and measures for
``--seconds`` on the third set-up's store. Every store a set-up builds
is checked, and so is the state the timed window leaves. The first
set-up launches the JVM (``setup_cold_s``); the second and third build
a new SparkContext in the running JVM, so ``setup_s``, the median of
the three, is a warm-JVM figure.

Run settings: Spark at ``local[nproc]`` (``SPARK_GRAFT_CPUS`` is set from
the CPUs this process may use), ``PYTHONPATH`` exported to the Python
workers, a 2 GB driver heap (``SPARK_GRAFT_DRIVER_MEM`` is forced to
``DRIVER_MEM``; see perfbench/PREDICTIONS.md for why), and Spark's
scratch, Python's temp files and all inputs under ``.perfbench_work/``
in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
DRIVER_MEM = "2g"
TIME_LIMIT_S = 170  # a run that has not finished by then stops and fails


class TimeLimit(Exception):
    pass


def _time_limit(signum, frame):
    raise TimeLimit(f"run exceeded {TIME_LIMIT_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tally(errors: list, checks: list[dict], attempted: int) -> tuple[int, float]:
    """Failures (operations that raised plus correctness checks that
    failed) and the error rate over the operations attempted."""
    failed = len(errors) + sum(1 for c in checks if not c["ok"])
    return failed, failed / max(attempted, 1)


class Context:
    """What a workload needs from the run: the session, the tracer and
    the seed."""

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.spark = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> dict:
    """Export the run settings before the program is imported (its
    session module reads ``SPARK_GRAFT_CPUS`` at import)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]
    ).strip()
    sys.path[:0] = [root, HERE]
    return {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "pythonpath": os.environ["PYTHONPATH"],
        "tmp": tmp,
    }


def spark_conf(tmp: str, event_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in /tmp: a run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir
        conf["spark.eventLog.compress"] = "false"
    return conf


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM it launched, and wait for the
    JVM to exit. A no-op when no JVM is running."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
    except Exception:  # the JVM is stopped below either way
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, root: str, work: str) -> dict:
    t_run = time.perf_counter()
    phases = {}
    settings = prepare_env(root, work)
    settings["load1_start"] = load1()
    import layers
    import stats
    import workloads
    from pypgsync_spark import session
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    wl = workloads.WORKLOADS[args.workload]()
    tracer = Tracer(bool(args.trace))
    tracer.install()
    ctx = Context(args.seed, tracer)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf = spark_conf(settings["tmp"], event_dir)

    phases["import_s"] = time.perf_counter() - t_run
    setup_s: list[float] = []
    progress: list = []
    errors: list[dict] = []
    recs: list[dict] = []
    windows: list[tuple[float, float]] = []  # (start, end) epoch seconds
    op_ids = itertools.count()

    def set_up(rep: int) -> None:
        if ctx.spark is not None:
            tracer.spark = None
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        tracer.spark = ctx.spark
        wl.setup(ctx, os.path.join(work, f"setup{rep}"))
        setup_s.append(time.perf_counter() - t0)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            from spans import make_stream_listener

            ctx.spark.streams.addListener(make_stream_listener(progress))

    def run_op(op_id: str, fn):
        tracer.op = op_id
        try:
            return fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            errors.append({"op": op_id, "error": repr(exc)[:500]})
            return None

    def timed(seconds: float) -> int:
        """Whole passes, ending at the pass boundary nearest to
        ``seconds`` elapsed; returns the number of operations attempted."""
        n = 0
        t_start, e_start = time.perf_counter(), time.time()
        steal0, total0 = cpu_ticks()
        deadline = t_start + seconds
        for one_pass in wl.passes():
            t_pass = time.perf_counter()
            for _name, fn in one_pass:
                op = f"op{next(op_ids)}"
                rec = run_op(op, fn)
                n += 1
                if rec is not None:
                    rec["op"] = op
                    recs.append(rec)
            now = time.perf_counter()
            if now + (now - t_pass) / 2 >= deadline:
                break
        windows.append((e_start, time.time()))
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: noise the
        # figures cannot control for, recorded to explain outliers
        settings["steal_share_window"] = (steal1 - steal0) / max(total1 - total0, 1)
        tracer.op = "check"
        return n

    checks: list[dict] = []
    for rep in range(SETUP_REPS):
        set_up(rep)
        checks += wl.check()
    settings["driver_memory"] = ctx.spark.conf.get("spark.driver.memory")
    t_warm = time.perf_counter()
    wl.warm(run_op)
    phases["warm_s"] = time.perf_counter() - t_warm
    mark = layers.settle(progress) if args.trace else 0
    attempted = timed(args.seconds)
    streaming = progress[mark : layers.settle(progress)] if args.trace else []
    t_check = time.perf_counter()
    checks += wl.check()
    phases["check_s"] = time.perf_counter() - t_check
    window_s = sum(e - s for s, e in windows)
    failed, error_rate = tally(errors, checks, attempted)
    rss = vm_hwm_mb(os.getpid())
    jvm = ctx.spark.sparkContext._gateway.proc
    if jvm is not None:
        rss += vm_hwm_mb(jvm.pid)
    t_stop = time.perf_counter()
    stop_jvm()
    tracer.uninstall()
    phases["stop_s"] = time.perf_counter() - t_stop
    settings["load1_end"] = load1()

    e2e = {
        "setup_s": {"value": stats.median(setup_s), "unit": "s", "n": len(setup_s),
                    "samples": setup_s},
        "setup_cold_s": {"value": setup_s[0], "unit": "s", "n": 1},
        "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
        "error_rate": {"value": error_rate, "unit": "ratio", "n": attempted},
        "ops_per_s": {"value": len(recs) / window_s, "unit": "1/s", "n": len(recs)},
    }
    e2e.update(stats.timing("op", [r["latency"] for r in recs]))
    e2e.update(wl.metrics(recs, window_s))
    per_layer = {}
    if args.trace:
        per_layer = layers.per_layer(
            wl, recs, tracer.spans, event_dir, streaming, window_s,
            [(a * 1000, b * 1000) for a, b in windows], settings["nproc"],
        )
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "inputs": wl.describe(),
        "window_s": window_s,
        "phases": {**phases, "setup_s": sum(setup_s), "window_s": window_s,
                   "total_s": time.perf_counter() - t_run},
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "errors": errors,
        "checks": checks,
        "ops": [{k: v for k, v in r.items() if isinstance(v, (int, float, str))} for r in recs],
        "e2e": e2e,
        "per_layer": per_layer,
    }


def final_metrics(result: dict, spec: dict) -> dict:
    """The contract's metric set: BENCHMARK.json's end_to_end list
    (untraced) or per_layer list (traced)."""
    names = spec["per_layer"] if result["trace"] else spec["end_to_end"]
    src = result["per_layer"] if result["trace"] else result["e2e"]
    out = {}
    for m in names:
        v = src.get(m["name"])
        if v is None or v.get("value") is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "pypgsync_spark")) or not os.path.isfile(spec_path):
        print("run from the root of a checkout that holds pypgsync_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    signal.signal(signal.SIGALRM, _time_limit)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(TIME_LIMIT_S)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, root, work)
        metrics = final_metrics(result, spec)
    finally:
        signal.alarm(0)
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    st = result["settings"]
    print(f"{args.workload} settings seed={args.seed} nproc={st['nproc']} master={st['master']} "
          f"driver_memory={st['driver_memory']} load1_start={st['load1_start']} "
          f"load1_end={st['load1_end']} steal_share_window={st['steal_share_window']:.3f} "
          f"window_s={result['window_s']:.3f}")
    for name, m in {**result["e2e"], **result["per_layer"]}.items():
        extra = "".join(f" {k}={v}" for k, v in m.items() if k not in ("value", "unit", "samples"))
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}{extra}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
