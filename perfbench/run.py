#!/usr/bin/env python3
"""Run one lake-benchmark workload for one seed.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the graft sources and the
benchmark driver with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse the build while
the sources are unchanged. Every file a run writes stays under the build
directory. The last line of standard output is the JSON result:

    {"correct": true, "attempted": 61, "failed": 0, "metrics": {...}}

With --trace 1 the metrics are the per-layer ones and the spans are kept
under <build dir>/results/.
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

WORKLOADS = ["cdc_cow", "cdc_mor_rw", "ivm_chain", "corpus_arrival"]
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout may take 900 s

# Spark 4 on JDK 17 outside spark-submit needs the launcher's module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, build_dir, deadline):
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
        "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
        "-Dsbt.boot.lock=false"])
    log = os.path.join(build_dir, "build.log")
    print(f"[perfbench] building (log: {log})", flush=True)
    with open(log, "w") as out:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            os.path.join(root, "perfbench"), env,
            max(30, deadline - time.time()), out, subprocess.STDOUT)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})", 3)
    cp = lines[-1].strip()
    if "graft-perfbench" not in cp and "classes" not in cp:
        fail("build did not print a classpath", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    t0 = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft "
             "not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark installation")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    cp = build(root, build_dir, t0 + BUILD_DEADLINE_S)

    t1 = time.time()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "runs", run_id)
    results = os.path.join(build_dir, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out])
    log = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    try:
        with open(log, "w") as err:
            rc = run_bounded(cmd, root, dict(os.environ),
                             max(10, DEADLINE_S - (time.time() - t1)),
                             None, err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded its deadline (log: {log})", 4)
    if not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"run failed with exit {rc} and no result (log: {log})", 5)
    with open(out) as fh:
        result = json.load(fh)
    print(json.dumps(result), flush=True)
    sys.exit(0 if rc == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
