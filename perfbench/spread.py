#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/baseline/untraced.json
    python3 perfbench/spread.py --workloads refresh --seeds 1 --trace 1 --out t.json

For every workload and metric it records the values of all runs, their
median and quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median, next to the metric's bound from
``BENCHMARK.json``. Runs are sequential; each run's wall time and the
host-noise probe of traced runs are kept with the figures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                       "python": platform.python_version()},
              "seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", w, "--seed", str(s),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {s}: exit {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res.update(seed=s, wall_s=wall)
            runs.append(res)
            print(f"{w} seed={s} wall={wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
        figures = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            entry = {"values": vals, "median": med,
                     "unit": runs[0]["metrics"][name]["unit"]}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                entry.update(q1=q1, q3=q3,
                             spread=(q3 - q1) / med if med else None)
            if bounds.get(name) is not None:
                entry["bound"] = bounds[name]
            figures[name] = entry
        report["workloads"][w] = {
            "runs": [{k: r[k] for k in ("seed", "wall_s", "correct",
                                        "attempted", "failed")}
                     for r in runs],
            "metrics": figures,
        }
        for name, e in figures.items():
            if "spread" in e:
                print(f"  {name:40s} median={e['median']:.6g} "
                      f"spread={e['spread']:.3f} bound={e.get('bound')}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
