#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at scale factor 0.001, one
short untraced run and one traced run each. Asserts that the last stdout
line is the result object, that every named metric is present and finite,
and that every check passed.

Run from the root of a checkout: python3 perfbench/smoke_test.py
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402


def bench(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0, f"{workload} trace={trace}: rc={out.returncode}\n" \
        f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    return lines, json.loads(lines[-1])


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, want in ((0, e2e), (1, layer)):
            lines, res = bench(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            assert set(res["metrics"]) == set(want), set(res["metrics"]) ^ set(want)
            for k, v in res["metrics"].items():
                assert v["unit"] == want[k] and math.isfinite(v["value"]), (k, v)
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
            assert not any(l.startswith("check ") and ": FAIL" in l for l in lines)
            assert lines[-2].startswith("summary ") and len(lines[-2]) < 300, lines[-2]
            if trace == 0:  # the per-layer object of a traced run is longer
                assert len("\n".join(lines[-2:])) < 2000
            print(f"ok {w['name']} trace={trace}: {res['attempted']} attempted")
    print("smoke test passed")


if __name__ == "__main__":
    main()
