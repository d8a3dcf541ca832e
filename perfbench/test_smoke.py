#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at sf0.001, untraced and
traced, with its output checks. Run from the repository root:

    python3 perfbench/test_smoke.py
"""
import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stdout}\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
            else:
                assert res["metrics"]["trace.reconcile_err"]["value"] <= 0.01, res["metrics"]
                assert (ROOT / "perfbench" / "traces" / f"{w['name']}-seed7.jsonl").exists()
            print(f"ok {w['name']} trace={trace}")


if __name__ == "__main__":
    main()
