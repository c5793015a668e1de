#!/usr/bin/env python3
"""Run graft.Bench N times (default 3) and report the per-query MIN.

This VM's timings swing 3-10x on unchanged plans (documented in
VERDICT r3: d_simhash 0.4->1.7s, w4_delta2 2.6->0.4s on identical
code), so a single bench sample reads as a regression when it's
noise. The min over 3 runs is the stable estimator of plan cost:
noise only ever ADDS time, so min converges to the true cost while
mean/median still carry scheduler jitter.

Usage: python3 tools/bench3.py [sf_dir] [n_runs]
Writes the merged line to stdout and bench3_min.json.
"""
import json, os, sys

from benchrun import bench

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf)
root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
runs = []
for i in range(n):
    # later runs must report every query the first one did
    j = bench(root, env, label=f"run {i}",
              expect=runs[0]["queries"] if runs else ())
    runs.append(j)
    sys.stderr.write(f"run {i}: total {j['value']}s\n")

merged = dict(runs[0])
merged["queries"] = {
    q: min(r["queries"][q] for r in runs) for q in runs[0]["queries"]
}
merged["value"] = round(sum(merged["queries"].values()), 3)
merged["runs"] = n
print(json.dumps(merged))
with open(os.path.join(root, "bench3_min.json"), "w") as f:
    json.dump(merged, f)
