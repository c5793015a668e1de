#!/usr/bin/env python3
"""A/B bench: run the SAME query subset in two checkouts (HEAD vs a
pinned worktree), alternating runs so slow environment drift during
the measurement cancels out, and report the per-query MIN per side.

Written for the round-10 drift investigation: the round-9 min-merged
sf0.1 sweep read 1.20x of round 8 on 414 common queries, smeared
across queries whose code did not change. Hypotheses: (a) plan-level
regression (would reproduce here), (b) sweep-level JVM aging (487-
query single-JVM sweep vs 414) or VM noise (would NOT reproduce in
isolated-JVM subset runs).

Usage: python3 tools/ab_bench.py <dirA> <dirB> <sf_dir> <n_alts> q1 q2 ...
Writes ab_bench.json {queries: {q: {A: min, B: min, ratio}}, ...}.
"""
import json, os, sys

from benchrun import bench

dirA, dirB, sf = sys.argv[1], sys.argv[2], sys.argv[3]
n = int(sys.argv[4])
queries = sys.argv[5:]
env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf)
# sf10 runs need the documented 64g heap (round-8 campaign setting);
# the 8g default OOM-stops the context under t_chrf's cached gram
# table and turns cache behavior into spill behavior, which is not
# the configuration any recorded sf10 artifact used.
env.setdefault("SPARK_DRIVER_MEM", "64g" if "sf10" in sf else "8g")

def run(cwd, i):
    j = bench(cwd, env, queries, f"{cwd} run {i}")
    sys.stderr.write(f"{os.path.basename(cwd) or 'HEAD':8s} run {i}: "
                     f"total {j['value']:.1f}s {json.dumps(j['queries'])}\n")
    return j["queries"]

runsA, runsB = [], []
for i in range(n):
    runsA.append(run(dirA, i))
    runsB.append(run(dirB, i))

res = {}
for q in queries:
    a = min(r[q] for r in runsA)
    b = min(r[q] for r in runsB)
    res[q] = {"A": round(a, 3), "B": round(b, 3),
              "ratio_A_over_B": round(a / b, 3) if b > 0 else None}
tot_a = sum(v["A"] for v in res.values())
tot_b = sum(v["B"] for v in res.values())
out = {"A": dirA, "B": dirB, "sf": sf, "alternations": n,
       "total_A": round(tot_a, 2), "total_B": round(tot_b, 2),
       "total_ratio": round(tot_a / tot_b, 3), "queries": res}
print(json.dumps(out, indent=1))
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "ab_bench.json"), "w") as f:
    json.dump(out, f, indent=1)
