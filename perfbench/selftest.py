#!/usr/bin/env python3
"""Self-test of the benchmark harness, at tiny scale (~4 minutes).

    python3 perfbench/selftest.py

Checks that
  * the result comparison catches a swapped rank and a score off by
    more than 1e-6, and that the oracle drops tombstoned docs;
  * one short run of every workload, untraced and traced, exits 0 and
    prints as its last line a result carrying exactly the metrics named
    in BENCHMARK.json, with their units;
  * a run whose checked result is corrupted (``--corrupt``) exits
    non-zero with ``correct: false``;
  * the benchmark refuses to run, without printing a result, in a
    directory holding only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode not in (0, 1) or result is None:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def check_compare() -> None:
    from perfbench.workloads import oracle_topk, same_topk
    from alertsage_spark.query.oracle import BM25Oracle

    want = [(7, 2.5, 1), (3, 1.25, 2)]
    assert same_topk(list(want), want) is None
    assert same_topk([(3, 1.25, 1), (7, 2.5, 2)], want) is not None
    assert same_topk([(7, 2.5 + 2e-6, 1), (3, 1.25, 2)], want) is not None
    assert same_topk([(7, 2.5 + 5e-7, 1), (3, 1.25, 2)], want) is None
    oracle = BM25Oracle([(1, "alpha beta"), (2, "alpha"), (3, "gamma")])
    full = oracle_topk(oracle, "alpha", set())
    assert [d for d, _s, _r in full] == [2, 1], full
    assert [(d, r) for d, _s, r in oracle_topk(oracle, "alpha", {2})] == [(1, 1)]
    print("selftest: result comparison ok", flush=True)


def check_runs(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(["--workload", w["name"], "--seed", "3", "--seconds", "2",
                             "--trace", str(trace), "--scale", "tiny"])
            assert code == 0 and res is not None, (w["name"], trace, code)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] is True and res["failed"] == 0, res
            assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], key, set(got) ^ set(want))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
            print(f"selftest: {w['name']} trace={trace} ok "
                  f"({res['attempted']} operations)", flush=True)


def check_corrupt(spec: dict) -> None:
    w = spec["workloads"][0]["name"]
    code, res = run(["--workload", w, "--seed", "3", "--seconds", "2",
                     "--trace", "0", "--scale", "tiny", "--corrupt"])
    assert code != 0 and res is not None, (code, res)
    assert res["correct"] is False and res["failed"] >= 1, res
    print(f"selftest: corrupted {w} result caught (exit {code})", flush=True)


def check_bare_dir(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                         "--seconds", "1", "--trace", "0"], cwd=bare)
        assert code != 0 and res is None, (code, res)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    print(f"selftest: bare directory refused (exit {code})", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_compare()
    check_bare_dir(spec)
    check_corrupt(spec)
    check_runs(spec)
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
