#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload sync_large --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

The first call builds the program and the harness from source with sbt
(offline) into .bench_build/, and records the runtime classpath there;
later calls reuse it while no source file is newer. Each run starts one
JVM (perfbench.Bench), relays its progress on stderr, checks that its last
stdout line is the result object and prints that object as the last line.
Exits non-zero, without a result, if the sources are missing, the build or
the run fails, or the run exceeds its time limit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("sync_large", "push_small", "ops_sf001")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in fs:
                yield os.path.join(d, f)


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        die("program sources (src/main/scala) not found; run from a full checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java are required")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the first spark-submit on PATH that sits in a Spark installation
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.abspath(d))
            if os.path.isfile(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building program and harness (sbt, offline)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and ".jar" in l and not l.startswith("[")]
    if not cp:
        die("build printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def run(cp, args):
    work = os.path.join(BUILD, "work", args.workload)
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", os.path.join(BUILD, "data"),
              "--golden", os.path.join(HERE, "ops_golden.tsv")]
           + (["--write-golden", "1"] if args.write_golden else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        die(f"run failed (exit {proc.returncode})")
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        die("run printed no result object")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result object")
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-golden", action="store_true",
                    help="ops_sf001 only: rewrite perfbench/ops_golden.tsv")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload or --selftest is required")
    cp = build()
    if args.selftest:
        cmd = ["java", "-cp", cp, "perfbench.SelfTest"]
        sys.exit(subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                timeout=RUN_TIMEOUT_S).returncode)
    run(cp, args)


if __name__ == "__main__":
    main()
