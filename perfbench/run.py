#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 10 --trace 0

Workloads, metrics and the layer map are described in
``perfbench/README.md``; names, units and bounds are in the repository's
``BENCHMARK.json``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
ones. Lines before it give every figure with its unit; the full result,
and in a traced run the spans, go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_cold", "refresh")


def host_noise_probe() -> dict[str, float]:
    """Copy a 17 MB buffer 7 times (the repository's bench.py probe):
    memory-bandwidth noise from other tenants shows here first."""
    import numpy as np

    a = np.zeros(17_000_000, dtype=np.uint8)
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        b = a.copy()
        samples.append((time.perf_counter() - t0) * 1000)
        del b
    samples.sort()
    return {"host.memcpy17mb_ms": samples[len(samples) // 2],
            "host.memcpy17mb_max_ms": samples[-1]}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import the program and perfbench as packages

    from perfbench import fixture, sparkrt, workloads
    from perfbench.spans import Recorder

    spec = load_spec()
    out_dir = os.path.join(ROOT, "perfbench", "out")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(out_dir, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    cores = len(os.sched_getaffinity(0))
    sparkrt.configure(ROOT, work, cores, event_log=event_dir)

    noise = host_noise_probe()
    fx = fixture.ensure(ROOT)
    rec = Recorder() if args.trace else None
    try:
        if args.workload == "refresh":
            run = workloads.refresh_workload(ROOT, work, fx, args.seed,
                                             args.seconds, rec, event_dir)
        else:
            run = workloads.serve_cold(fx, args.seed, args.seconds, rec)
    finally:
        sparkrt.shutdown()
    run.layers.update(noise)
    run.errors += [f"fixture: {e}" for e in fx.meta["errors"]]
    run.attempted += fx.meta["dist_queries"]

    units = {m["name"]: m["unit"] for m in
             spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in
             (spec["per_layer"] if args.trace else spec["end_to_end"])]
    figures = run.layers if args.trace else run.e2e
    missing = [n for n in names if n not in figures]
    if missing:
        raise SystemExit(f"workload did not produce {missing}")
    metrics = {n: {"value": float(figures[n]), "unit": units[n]}
               for n in names}

    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "end_to_end": run.e2e, "per_layer": run.layers, "extra": run.extra,
        "attempted": run.attempted, "failed": len(run.errors),
        "errors": run.errors[:50],
        "fixture": {k: fx.meta[k] for k in (
            "build_s", "build_cli_s", "build_docs_per_s", "build_layers",
            "dist_query_p50_ms")},
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    if rec is not None:
        rec.dump(os.path.join(work, "spans.jsonl"))
    for name in os.listdir(work):  # indexes, inputs, Spark scratch
        if name not in ("result.json", "spans.jsonl"):
            path = os.path.join(work, name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.unlink(path)

    for err in run.errors[:20]:
        print(f"FAILED {err}")
    for group, vals in (("end_to_end", run.e2e), ("per_layer", run.layers),
                        ("extra", run.extra),
                        ("fixture", result["fixture"])):
        for k in sorted(vals):
            v = vals[k]
            if isinstance(v, dict):
                v = json.dumps(v, sort_keys=True)
            print(f"{group}\t{k}\t{v}\t{units.get(k, '')}")
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": len(run.errors),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
