"""Run workloads untraced and traced, and print every metric.

    python3 perfbench/report.py                       # every workload in BENCHMARK.json, seed 1
    python3 perfbench/report.py --workloads sync-trickle --seeds 1-10 --no-trace

Run from the root of a checkout. For each workload and seed it runs
``perfbench/run.py`` untraced (the end-to-end figures) and, unless
``--no-trace``, traced (the per-layer figures). It prints each
end-to-end metric by name with unit, sample count, and, over several
seeds, the median, quartiles and quartile spread; then the per-layer
summary grouped by layer, each ratio with its base; then the tracing
overhead (traced / untraced - 1 for each end-to-end metric). Everything
is also written to ``--out`` (default ``.perfbench_out/report.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    with open(os.path.join(".perfbench_out", f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def summarize(results: list[dict], section: str) -> dict:
    names = []
    for r in results:
        names += [n for n in r[section] if n not in names]
    out = {}
    for n in names:
        vals = [r[section][n]["value"] for r in results if n in r[section]]
        first = next(r[section][n] for r in results if n in r[section])
        row = {"unit": first["unit"], "samples_per_run": first.get("n"), "values": vals}
        for key in ("base", "pct"):
            if key in first:
                row[key] = first[key]
        if len(vals) >= 2:
            row.update(stats.quartiles(vals))
        else:
            row["median"] = vals[0]
        out[n] = row
    return out


def fmt(row: dict) -> str:
    s = f"{row['median']:.6g} {row['unit']}"
    if "q1" in row:
        spread = "n/a" if row["spread"] is None else f"{row['spread']:.3f}"
        s += f"  [q1 {row['q1']:.6g}, q3 {row['q3']:.6g}, spread {spread}, runs {len(row['values'])}]"
    if row.get("samples_per_run") is not None:
        s += f"  samples/run {row['samples_per_run']}"
    if "pct" in row:
        s += f"  (p{row['pct']})"
    if "base" in row:
        s += f"  base {row['base']}"
    return s


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", default=None, help="default: BENCHMARK.json's workloads")
    p.add_argument("--seeds", default="1")
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--no-trace", action="store_true")
    p.add_argument("--out", default=os.path.join(".perfbench_out", "report.json"))
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {"seconds": seconds, "workloads": {}}
    for wl in names:
        plain = [run_one(wl, s, seconds, 0) for s in seeds(args.seeds)]
        entry = {
            "settings": plain[0]["settings"],
            "inputs": plain[0]["inputs"],
            "seeds": seeds(args.seeds),
            "attempted": sum(r["attempted"] for r in plain),
            "failed": sum(r["failed"] for r in plain),
            "end_to_end": summarize(plain, "e2e"),
        }
        print(f"== {wl}  seeds {args.seeds}  nproc {entry['settings']['nproc']}  "
              f"master {entry['settings']['master']}  attempted {entry['attempted']}  "
              f"failed {entry['failed']}")
        for n, row in entry["end_to_end"].items():
            print(f"  {n:28s} {fmt(row)}")
        if not args.no_trace:
            traced = [run_one(wl, s, seconds, 1) for s in seeds(args.seeds)]
            entry["per_layer"] = summarize(traced, "per_layer")
            traced_e2e = summarize(traced, "e2e")
            entry["tracing_overhead"] = {
                n: traced_e2e[n]["median"] / row["median"] - 1
                for n, row in entry["end_to_end"].items()
                if n in traced_e2e and row["median"]
            }
            print("  per layer (traced run):")
            layer = None
            for n, row in entry["per_layer"].items():
                if n.split(".")[0] != layer:
                    layer = n.split(".")[0]
                    print(f"   [{layer}]")
                print(f"    {n:44s} {fmt(row)}")
            print("  tracing overhead (traced / untraced - 1):")
            for n, v in entry["tracing_overhead"].items():
                print(f"    {n:28s} {v:+.3f}")
        report["workloads"][wl] = entry
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"written {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
