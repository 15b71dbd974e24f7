#!/usr/bin/env python3
"""Baseline record: run every workload on consecutive seeds and store each
metric's median, quartiles and spread.

    python3 perfbench/baseline.py --runs 10 --traced-runs 3

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``; an end-to-end metric
is steady when its spread is below a third of its bound in BENCHMARK.json
(``setup_s`` is judged on its median alone). Runs are sequential, one
workload after the other, so no two runs share the host.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s "
          + " ".join(f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()
                     if trace == 0), flush=True)
    return {"seed": seed, "wall_s": wall, **res}


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    out = {}
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        row = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
               "spread": (q3 - q1) / abs(med) if med else None, "values": vals}
        if "bound" in m:
            row["bound"] = m["bound"]
            row["steady"] = m["name"] == "setup_s" or (
                row["spread"] is not None and row["spread"] < m["bound"] / 3)
        out[m["name"]] = row
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced-runs", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    record = {
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                 "python": platform.python_version()},
        "run_seconds": spec["run_seconds"],
        "workloads": {},
    }
    seeds = range(args.first_seed, args.first_seed + args.runs)
    for w in (w["name"] for w in spec["workloads"]):
        plain = [one_run(spec, w, s, 0) for s in seeds]
        traced = [one_run(spec, w, s, 1) for s in seeds[: args.traced_runs]]
        record["workloads"][w] = {
            "seeds": list(seeds),
            "wall_s_max": max(r["wall_s"] for r in plain + traced),
            "attempted": sum(r["attempted"] for r in plain),
            "failed": sum(r["failed"] for r in plain + traced),
            "end_to_end": summarize(plain, spec["end_to_end"]),
            "per_layer": summarize(traced, spec["per_layer"]) if traced else {},
        }
    out = os.path.join(HERE, "baseline.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    unsteady = [
        (w, k) for w, rec in record["workloads"].items()
        for k, row in rec["end_to_end"].items() if not row["steady"]
    ]
    print(f"baseline written to {out}; unsteady: {unsteady or 'none'}")
    return 1 if unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
