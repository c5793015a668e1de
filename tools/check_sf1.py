#!/usr/bin/env python3
"""Dev-only sf1 oracle gate: tools/check.py's own compare (bit-exact
float compare, columns sorted by name, rows sorted by all columns),
with each query run in a subprocess with a wall-clock budget. A few
oracle SQLs are intentionally oracle-scale-only (recursive transitive
closures, all-pairs verifies) and are intractable in DuckDB at sf1 —
those are reported as ORACLE_TIMEOUT, never silently skipped; the
Spark side already ran them (BENCH_sf1.json carries their timings).

Usage: python3 tools/check_sf1.py <sfDir> <outDir> [timeout_s] [query ...]
"""
import json
import subprocess
import sys

from check import TABLES, compare


def compare_one(sf_dir, out_dir, name):
    import duckdb
    import pyoracle
    if name in pyoracle.ORACLES:
        # non-SQL oracle: union-find / linear numpy folds where the
        # SQL mirror (recursive closure, substr-per-char) is
        # intractable at sf1; same compare path below
        exp = pyoracle.compute(name, sf_dir)
    else:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        sql = json.load(open(f"{out_dir}/oracle_sql.json"))[name]
        exp = con.sql(sql).df()
    got = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    errs = compare(exp, got)
    return "; ".join(errs[:4]) if errs else None


def main():
    if sys.argv[1] == "--one":
        err = compare_one(sys.argv[2], sys.argv[3], sys.argv[4])
        if err:
            print(f"FAIL {sys.argv[4]}: {err}")
            sys.exit(1)
        print(f"PASS {sys.argv[4]}")
        return
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 120
    only = sys.argv[4:]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(only if only else oracle.keys())
    n_pass = n_fail = n_to = 0
    timeouts, fails = [], []
    # the python-oracle queries recompute minhash/union-find from
    # scratch — slower than a SQL probe, still bounded; give them a
    # floor so the default 120 s SQL budget doesn't clip them
    py_names = {"d_neardup", "d_components", "d_embclusters", "c_corpus",
                "g16_ktruss", "s_knn_join", "m34_knn_clf"}
    for name in names:
        try:
            r = subprocess.run(
                [sys.executable, __file__, "--one", sf_dir, out_dir, name],
                capture_output=True, text=True,
                timeout=max(budget, 900) if name in py_names else budget)
            if r.returncode == 0:
                n_pass += 1
            else:
                n_fail += 1
                fails.append(name)
                out = (r.stdout or r.stderr).strip().splitlines()
                print(out[-1][:300] if out else f"FAIL {name}")
        except subprocess.TimeoutExpired:
            n_to += 1
            timeouts.append(name)
            print(f"ORACLE_TIMEOUT {name} (> {budget}s in DuckDB)")
    print(f"== {n_pass} pass, {n_fail} fail, {n_to} oracle-timeout ==")
    json.dump({"pass": n_pass, "fail": n_fail, "oracle_timeout": n_to,
               "failed": fails, "timed_out": timeouts, "budget_s": budget},
              open("/tmp/check_sf1_summary.json", "w"))


if __name__ == "__main__":
    main()
