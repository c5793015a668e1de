#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate.

Runs the oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
same sf tables for each query directory present in <outDir> (or the
named ones), loads the Spark parquet result written by graft.Verify,
and compares row count, column names, and values (columns sorted by
name, rows sorted by all columns). Dev tooling only — the shipped
library is pure Scala/Spark.

With --spark it compares two graft.Verify output directories instead
(say, a parent commit's and a change's), with no DuckDB: the same
comparison, <outDirA> as the expected side, over the query directories
present in <outDirA> (or the named ones). Rows are sorted before values
are compared, so a query that writes its rows in a run-dependent order
still compares equal.

With --plans it compares two graft.tools.Explain dumps (its stdout, or
the sbt log of `runMain graft.tools.Explain`, formatted or -s) query by
query, after masking what differs between two runs of one commit:
expression ids (#123), JVM lambda class names, object and array
identities (TopKAgg@272979b4, [J@1f2e3d), ML uids
(VectorAssembler_0123456789ab), the random suffix of a temporary
directory (/tmp/graft_text2688608093), the source line of an RDD's
call site (localCheckpoint at Graph.scala:72), which moves with any
edit above it, and the session-wide counters an exchange's plan_id
and an RDD's id (MapPartitionsRDD[3963]), which move with any plan
change in an earlier query. Lambda variables (lambda x_27) take a
session-wide counter too, so each query's are renumbered in order of
first use (lambda x_0, lambda y_1, ...). It prints the masked diff of every query
whose plan differs, or that only one dump has.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
       python3 tools/check.py --spark <outDirA> <outDirB> [query ...]
       python3 tools/check.py --plans <dumpA> <dumpB> [query ...]
"""
import difflib, json, os, re, sys

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare(exp, got):
    """Differences between two result frames: column names, row count,
    dtypes, and values on rows sorted by all columns. Values compare
    bit-exactly: result hashes tell them apart, so -0.0 vs +0.0 (== under
    IEEE) is a REAL mismatch (it hid the r2-r4 e1_features jerk_s
    drift), while NaN equals NaN and None equals None (or NaN).
    Vectorized per column, so it stays fast at millions of rows."""
    import numpy as np
    if sorted(exp.columns) != sorted(got.columns):
        return [f"cols exp={sorted(exp.columns)} got={sorted(got.columns)}"]
    if len(exp) != len(got):
        return [f"rows exp={len(exp)} got={len(got)}"]
    cols = sorted(exp.columns)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    errs = []
    for c in cols:
        ev, gv = e[c], g[c]
        if str(ev.dtype) != str(gv.dtype):
            errs.append(f"dtype[{c}] exp={ev.dtype} got={gv.dtype}")
            continue
        missing = (ev.isna() & gv.isna()).to_numpy()
        if ev.dtype.kind == "f":
            ea, ga = ev.to_numpy(), gv.to_numpy()
            ok = (ea.view(f"u{ea.itemsize}") == ga.view(f"u{ga.itemsize}")) | missing
        else:
            ok = (ev.to_numpy() == gv.to_numpy()) | missing
        bad = int((~ok).sum())
        if bad:
            i = int(np.argmax(~ok))
            errs.append(f"val[{c}] {bad}/{len(ev)} first@({i}, {ev.iloc[i]!r}, {gv.iloc[i]!r})")
    return errs


def report(name, errs, rows, unit="rows"):
    if errs:
        print(f"FAIL {name}: " + "; ".join(errs[:4]))
    else:
        print(f"PASS {name} ({rows} {unit})")
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
    wanted = only or {n for n in oracle if os.path.isdir(f"{out_dir}/{n}")}
    for name, sql in sorted(oracle.items()):
        if name not in wanted:
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


PLAN_MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\$\$Lambda[$/][\w$/]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"([\w;])@[0-9a-f]+\b"), r"\1@"),
    (re.compile(r"\b([A-Za-z]\w*)_[0-9a-f]{12}\b"), r"\1_uid"),
    (re.compile(r"\b(graft_\w*?)\d{6,}"), r"\1"),
    (re.compile(r"(\.scala):\d+"), r"\1:"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[]"),
]
LAMBDA_VAR = re.compile(r"\blambda (\w+?)_(\d+)\b")
FORMATTED = re.compile(r"^==== (\S+) ====$")
SUMMARY = re.compile(r"^== (\S+?)(:| +exchanges=)")


def read_plans(path):
    """{query: masked plan lines} of one Explain dump. sbt's `[info] `
    prefix is dropped; its other log lines (and Spark's, which sbt
    prints as `[error]`) are skipped."""
    plans, cur = {}, None
    for line in open(path, errors="replace"):
        line = line.rstrip("\n")
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        elif re.match(r"^\[(error|warn|success)\]", line):
            continue
        for rx, to in PLAN_MASKS:
            line = rx.sub(to, line)
        m = FORMATTED.match(line)
        if m:
            cur = plans.setdefault(m.group(1), [])
            continue
        m = SUMMARY.match(line)
        if m:
            plans.setdefault(m.group(1), []).append(line)
            cur = None
        elif cur is not None:
            cur.append(line)
    # Explain prints a blank line before each formatted section
    for lines in plans.values():
        while lines and not lines[-1].strip():
            lines.pop()
        seen = {}
        lines[:] = [LAMBDA_VAR.sub(lambda m: "lambda %s_%d" % (
            m.group(1), seen.setdefault(m.group(0), len(seen))), line)
            for line in lines]
    return plans


def plans_vs_plans(path_a, path_b, only):
    a, b = read_plans(path_a), read_plans(path_b)
    names = sorted(n for n in set(a) | set(b) if not only or n in only)
    n_pass = n_fail = 0
    for name in names:
        if name not in a or name not in b:
            ok = report(name, [f"only in {path_a if name in a else path_b}"], 0)
        else:
            diff = list(difflib.unified_diff(a[name], b[name], lineterm="",
                                             n=0))[2:]
            changed = [d for d in diff if d[:1] in "+-"]
            ok = report(name, [f"{len(changed)} lines differ"] if diff else [],
                        len(a[name]), "lines")
            for d in diff:
                print("    " + d)
        n_pass, n_fail = n_pass + ok, n_fail + (not ok)
    missing = sorted(only - set(names))
    for name in missing:
        report(name, ["in neither dump"], 0)
    return n_pass, n_fail + len(missing)


def main():
    args = sys.argv[1:]
    if args[0] == "--spark":
        n_pass, n_fail = spark_vs_spark(args[1], args[2], set(args[3:]))
    elif args[0] == "--plans":
        n_pass, n_fail = plans_vs_plans(args[1], args[2], set(args[3:]))
    else:
        n_pass, n_fail = against_duckdb(args[0], args[1], set(args[2:]))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
