#!/usr/bin/env python3
"""Runs one workload of the phase-split benchmark and prints its result.

    python3 perfbench/run.py --workload tracking_features --seed 1 \
        --seconds 20 --trace 0

Steps, each cached in the build directory ($CARGO_TARGET_DIR, default
.bench_build) so only the first run in a checkout pays for them:
  1. compile the library and the harness with sbt (offline), keyed by a
     hash of every source and build file;
  2. write the input tables with gen_tables.py (fixed scale and seed);
  3. start one JVM running perfbench.Main on local[N], N = usable cores.
The last line of standard output is the result JSON (see README.md).
Exits non-zero, without a result, if the library sources are missing.

Maintenance modes (no result line): --pin-out FILE writes the digests of
one pass; --profile-out FILE writes a traced one-pass profile. Both take
--queries a,b,c or --queries ALL in place of --workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Matches org.apache.spark.launcher.JavaModuleOptions for JDK 17.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles with sbt when any source changed; returns the classpath."""
    stamp, cp_file = os.path.join(build_dir, "stamp"), os.path.join(build_dir, "classpath")
    want = sources_stamp()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's scratch files, server socket and perf data out of /tmp
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher's own java calls
    log("building (sbt compile)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in out.stdout.splitlines() if "perfbench" in l and ".jar" in l][-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def tables(build_dir, sf, seed):
    """Writes the input tables once; returns their directory."""
    data = os.path.join(build_dir, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(data, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_tables
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(tmp, sf, seed)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries")
    ap.add_argument("--pin-out")
    ap.add_argument("--profile-out")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        raise SystemExit("library sources not found next to perfbench/")
    if a.queries:
        queries = a.queries
    elif a.workload in spec["workloads"]:
        queries = ",".join(spec["workloads"][a.workload])
    else:
        raise SystemExit(f"unknown workload {a.workload!r}")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    t_start = time.time()
    data = tables(build_dir, spec["sf"], spec["data_seed"])
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)

    confs = dict(spec["session_conf"])
    confs["spark.local.dir"] = os.path.join(run_dir, "local")
    confs["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    args = ["--workload", a.workload or "adhoc", "--queries", queries,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--data", data]
    maint = bool(a.pin_out or a.profile_out)
    if not maint:
        args += ["--pins", os.path.join(HERE, "pins.tsv")]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    if a.pin_out:
        args += ["--pin-out", os.path.abspath(a.pin_out)]
    if a.profile_out:
        args += ["--profile-out", os.path.abspath(a.profile_out)]
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{spec['heap']}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-XX:-UsePerfData",  # no hsperfdata file under /tmp
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + args)
    timeout = None if maint else RUN_TIMEOUT_S - (time.time() - t_start)
    env = dict(os.environ, SPARK_LOCAL_DIRS=confs["spark.local.dir"])
    log(f"starting JVM {time.time() - t_start:.1f} s after build check")
    # the JVM gets its own process group; the finally below stops it
    # however this script ends, including on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("benchmark terminated"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"JVM exited {time.time() - t_start:.1f} s after build check")
    sys.stdout.write(out)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
