#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this source tree.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Workloads: pg_point_read, pg_write_visible, df_analytics (see perfbench/README.md).

df_analytics reads a byte copy of the engine's seed-42 test fixture under
perfbench/data/; every run first checks it against perfbench/data/SHA256SUMS.

The first run builds the engine and the harness with sbt (offline, from
source) and records the runtime classpath; later runs reuse it until a
source file changes. The harness runs in one JVM; its last stdout line is
the result JSON, which this script checks and prints as its own last line.
Exits non-zero without a result if the engine sources are missing, the
build fails, the harness fails or it overruns its time limit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(BENCH, "data")
CP_FILE = os.path.join(WORK, "classpath.txt")
STAMP_FILE = os.path.join(WORK, "classpath.stamp")
WORKLOADS = ["pg_point_read", "pg_write_visible", "df_analytics"]
# JVM flags Spark 4 needs on JDK 17 outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and harness sources plus
    both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_data():
    """The fixture copy must be byte-identical to the one its signatures
    were pinned against."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            want, name = line.split()
            path = os.path.join(DATA, name)
            if not os.path.isfile(path):
                fail(f"fixture file missing: {path}")
            with open(path, "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != want:
                    fail(f"fixture file differs from SHA256SUMS: {path}")


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    return env


def classpath(stamp):
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    t0 = time.time()
    print("[perfbench] building engine + harness with sbt ...", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp + "\n")
    with open(STAMP_FILE, "w") as f:
        f.write(stamp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp


def java_cmd(cp, main_args):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms3g", "-Xmx3g", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", *main_args]


def run_jvm(cmd, timeout):
    """Run the harness; stderr passes through, stdout is returned."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"harness overran {timeout}s and was stopped")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the self-test")
    ap.add_argument("--selftest", action="store_true", help="check the harness's helpers")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"engine sources not found under {ROOT} (expected build.sbt and src/main/scala/graft)")
    check_data()
    cp = classpath(source_stamp())
    if a.selftest:
        rc, out = run_jvm(java_cmd(cp, ["--selftest"]), 120)
        sys.stdout.write(out)
        sys.exit(rc)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--data", DATA,
            "--signatures", os.path.join(BENCH, "signatures")] + (["--smoke"] if a.smoke else [])
    rc, out = run_jvm(java_cmd(cp, args), RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"harness failed (exit {rc})")
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail("harness printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
