#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload export|corpus --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and this
harness from source with sbt (offline) and caches the classpath under
perfbench/.build, keyed by a hash of every source and build file; later
runs start the JVM directly. The harness JVM reads the sf0.1 test tables
from ~/testdata/sf0.1 (GRAFT_BENCH_DATA overrides the directory), sets
up the serving stack, warms up and checks outputs, measures for
--seconds, and writes a report.
This script prints each metric with its unit and sample count, then, as
the last line, one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
Exit code 0 means the run completed; anything else means it did not.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
DATA = os.environ.get("GRAFT_BENCH_DATA",
                      os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
BUILD_TIMEOUT_S = 720


def run_timeout_s(seconds):
    """Set-up, warm-up and the window, with room for a slow machine: a run
    spends 20-35 s in set-up and its window takes up to 1.4 x --seconds.
    At --seconds 30 this ends a stalled run within 160 s."""
    return 100 + 2 * seconds

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file that goes into the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build (when sources changed) and return the harness classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            old, cp = f.read().strip(), g.read().strip()
        if old == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += " -Djava.io.tmpdir=" + tmp
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, a, report):
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "store", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["GRAFT_STORE_ROOT"] = os.path.join(WORK, "store")
    # One core fewer than the machine has: the driver thread, the prober
    # and the JVM's own threads keep a core, so a probe or a query build
    # does not queue behind Spark's task threads for the CPU.
    cpus = str(max(1, (os.cpu_count() or 4) - 1))
    env["SPARK_GRAFT_CPUS"] = cpus
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
            "-Dderby.system.home=" + os.path.join(WORK, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--out", report, "--cpus", cpus,
            "--expected", os.path.join(HERE, "expected_corpus.json"),
            "--trace-dir", OUT]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=run_timeout_s(a.seconds))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(report):
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail("run timed out" if rc is None else f"harness JVM exited {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["export", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft sources (build.sbt, src/) are not next to perfbench/")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"test data not found in {DATA}")
    cp = classpath()
    os.makedirs(OUT, exist_ok=True)
    report = os.path.join(OUT, f"report-{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(report):
        os.remove(report)
    run_jvm(cp, a, report)
    with open(report) as f:
        r = json.load(f)
    for k, v in r["info"].items():
        print(f"# {a.workload} info {k} = {v}")
    for k, v in r["errors"].items():
        print(f"# {a.workload} failures {v} x {k}")
    frac = r["failed"] / r["attempted"] if r["attempted"] else 0.0
    print(f"# {a.workload} fail_frac = {frac:.4f} ({r['failed']}/{r['attempted']} operations)")
    print(f"# {a.workload} output check: {'correct' if r['correct'] else 'FAILED (wrong results or unexpected errors)'}")
    for k, m in r["metrics"].items():
        print(f"# {a.workload} {k} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
