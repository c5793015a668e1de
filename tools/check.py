#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
same sf tables, loads the Spark parquet result written by graft.Verify,
and compares row count, column names, and values (columns sorted by
name, rows sorted by all columns). Dev tooling only — the shipped
library is pure Scala/Spark.

With --spark it compares two graft.Verify output directories instead
(say, a parent commit's and a change's), with no DuckDB: the same
comparison, <outDirA> as the expected side, over the query directories
present in <outDirA> (or the named ones). Rows are sorted before values
are compared, so a query that writes its rows in a run-dependent order
still compares equal.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
       python3 tools/check.py --spark <outDirA> <outDirB> [query ...]
"""
import json, os, struct, sys, math

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare(exp, got):
    """Differences between two result frames: column names, row count,
    dtypes, and bit-exact values on rows sorted by all columns."""
    errs = []
    if sorted(exp.columns) != sorted(got.columns):
        return [f"cols exp={sorted(exp.columns)} got={sorted(got.columns)}"]
    if len(exp) != len(got):
        return [f"rows exp={len(exp)} got={len(got)}"]
    cols = sorted(exp.columns)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        ev, gv = e[c], g[c]
        if str(ev.dtype) != str(gv.dtype):
            errs.append(f"dtype[{c}] exp={ev.dtype} got={gv.dtype}")
        mismatch = 0
        first = None
        for i in range(len(ev)):
            a, b = ev.iloc[i], gv.iloc[i]
            if a is None or (isinstance(a, float) and math.isnan(a)):
                ok = b is None or (isinstance(b, float) and math.isnan(b))
            elif isinstance(a, float):
                # Bit-exact: the driver hashes values, so -0.0
                # vs +0.0 (== under IEEE) is a REAL mismatch —
                # it hid the r2-r4 e1_features jerk_s drift.
                ok = isinstance(b, float) and (
                    struct.pack("<d", a) == struct.pack("<d", b))
            else:
                ok = a == b
            if not ok:
                mismatch += 1
                if first is None:
                    first = (i, a, b)
        if mismatch:
            errs.append(f"val[{c}] {mismatch}/{len(ev)} first@{first}")
    return errs


def report(name, errs, rows):
    if errs:
        print(f"FAIL {name}: " + "; ".join(errs[:4]))
    else:
        print(f"PASS {name} ({rows} rows)")
    return not errs


def flat(v):
    """A sortable, exactly comparable stand-in for a nested value
    (arrays, structs, maps): the repr of its plain-Python form, which
    keeps -0.0 apart from 0.0 as the bit-exact scalar rule does."""
    def plain(x):
        if isinstance(x, dict):
            return tuple((k, plain(y)) for k, y in x.items())
        if hasattr(x, "tolist") and not isinstance(x, (str, bytes)):
            x = x.tolist()
        if isinstance(x, (list, tuple)):
            return tuple(plain(y) for y in x)
        return x
    return v if v is None else repr(plain(v))


def read_spark(out_dir, name):
    import pyarrow.parquet as pq
    df = pq.read_table(f"{out_dir}/{name}").to_pandas()
    for c in df.columns:
        if df[c].dtype == object and any(
                hasattr(v, "__len__") and not isinstance(v, (str, bytes))
                for v in df[c]):
            df[c] = df[c].map(flat)
    return df


def spark_vs_spark(dir_a, dir_b, only):
    names = sorted(n for n in os.listdir(dir_a)
                   if os.path.isdir(f"{dir_a}/{n}") and (not only or n in only))
    n_pass = n_fail = 0
    for name in names:
        try:
            exp, got = read_spark(dir_a, name), read_spark(dir_b, name)
        except Exception as e:
            ok = report(name, [f"result missing: {str(e)[:120]}"], 0)
        else:
            ok = report(name, compare(exp, got), len(exp))
        n_pass, n_fail = n_pass + ok, n_fail + (not ok)
    missing = sorted(only - set(names))
    for name in missing:
        report(name, [f"no result in {dir_a}"], 0)
    n_fail += len(missing)
    return n_pass, n_fail


def against_duckdb(sf_dir, out_dir, only):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            ok = report(name, [f"oracle SQL error: {str(e)[:200]}"], 0)
        else:
            try:
                got = duckdb.sql(
                    f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            except Exception as e:
                ok = report(name, [f"spark result missing: {str(e)[:120]}"], 0)
            else:
                ok = report(name, compare(exp, got), len(exp))
        n_pass, n_fail = n_pass + ok, n_fail + (not ok)
    return n_pass, n_fail


def main():
    args = sys.argv[1:]
    if args[0] == "--spark":
        n_pass, n_fail = spark_vs_spark(args[1], args[2], set(args[3:]))
    else:
        n_pass, n_fail = against_duckdb(args[0], args[1], set(args[2:]))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
