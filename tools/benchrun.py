"""One `sbt runMain graft.Bench [queries]` run, shared by bench3.py and
ab_bench.py: runs it in a checkout and returns its parsed {"metric" ...}
line, or exits naming the run when the line is missing, reports errors,
or lacks a query of `expect` (default: the requested `queries`)."""
import json, subprocess, sys


def bench(cwd, env, queries=(), label="run", expect=None):
    out = subprocess.run(
        ["sbt", "-batch", " ".join(["runMain graft.Bench", *queries])],
        capture_output=True, text=True, env=env, cwd=cwd)
    line = next((l[l.index('{"metric"'):] for l in out.stdout.splitlines()
                 if '{"metric"' in l), None)
    if line is None:
        sys.stderr.write(f"{label}: no bench line\n"
                         f"{out.stdout[-3000:]}\n{out.stderr[-2000:]}\n")
        sys.exit(1)
    j = json.loads(line)
    if j.get("errors"):
        sys.stderr.write(f"{label}: errors {j['errors']}\n")
        sys.exit(1)
    missing = [q for q in (queries if expect is None else expect)
               if q not in j["queries"]]
    if missing:
        sys.stderr.write(f"{label}: requested queries absent from "
                         f"bench output (typo'd name?): {missing}\n")
        sys.exit(1)
    return j
