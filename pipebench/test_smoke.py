#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark at tiny volume.

    python3 pipebench/test_smoke.py

Runs every workload of BENCHMARK.json untraced and traced with
`--volume tiny --seconds 2` and checks that each run passes its
correctness checks (they print `check: PASS ...` lines) and emits exactly
the end-to-end, respectively per-layer, metrics with their units.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--volume", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stdout}\n{p.stderr}"
    return lines, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines, result = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, result
            checks = [l for l in lines if l.startswith("check: ")]
            assert checks and all(l.startswith("check: PASS") for l in checks), checks
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, {len(checks)} checks")


if __name__ == "__main__":
    main()
