#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny size (sf0.001 tables, 32x32 tiles).

For every workload in BENCHMARK.json:
  1. an untraced run must print every end-to-end metric with its unit;
  2. a traced run must print every per-layer metric with its unit;
  3. a run fed one deliberately wrong output (--inject-wrong) must count
     it as failed and report correct=false.

Usage: python3 perfbench/selftest.py [workload ...]    (from the repository root)
"""
import json
import subprocess
import sys
from pathlib import Path


def run(workload, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "2", "--size", "tiny", *extra]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert r.returncode == 0, f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def expect_metrics(res, declared, what):
    got = res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    assert not missing, f"{what}: missing metrics {missing}"
    bad = [m["name"] for m in declared if got[m["name"]]["unit"] != m["unit"]]
    assert not bad, f"{what}: wrong units for {bad}"
    extra = sorted(set(got) - {m["name"] for m in declared})
    assert not extra, f"{what}: undeclared metrics {extra}"


def main():
    spec = json.loads(Path("BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in names:
        res = run(w, "--trace", "0")
        assert res["correct"] and res["failed"] == 0, f"{w}: clean run failed: {res}"
        expect_metrics(res, spec["end_to_end"], f"{w} --trace 0")
        res = run(w, "--trace", "1")
        assert res["correct"], f"{w}: traced run failed: {res}"
        expect_metrics(res, spec["per_layer"], f"{w} --trace 1")
        res = run(w, "--trace", "0", "--inject-wrong")
        assert res["failed"] >= 1 and not res["correct"], f"{w}: wrong output not caught: {res}"
        print(f"PASS {w}: metrics and units complete; the injected wrong output counted as "
              f"{res['failed']} failed of {res['attempted']}", flush=True)
    print("SELFTEST PASS")


if __name__ == "__main__":
    main()
