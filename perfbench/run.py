#!/usr/bin/env python3
"""Benchmark launcher: builds the harness and the program from source (once
per checkout), runs one workload in a fresh JVM, and relays its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Everything it writes lives under .bench_build/ in the checkout; each run's
scratch directory is deleted when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
CDS_FILE = os.path.join(BUILD, "classes.jsa")
STAMP_FILE = os.path.join(BUILD, "stamp.txt")
RUN_TIMEOUT_S = 170
# the heap the program's own build gives its forked runs (build.sbt)
HEAP = "8g"
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: sources and build definitions."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def sbt_cmd(*tasks):
    tmp = os.path.join(BUILD, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd + list(tasks)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interruption kill
    the whole group (launcher scripts fork their JVM) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def java_cmd(classpath, main_args, cds_arg):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file under /tmp; deep call sites keep the server route
    # that caused a Spark job on the recorded stack
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.callstack.depth=200"] +
            cds_arg + opens +
            ["-cp", classpath, "perfbench.Main"] + main_args)


def build(stamp):
    """Compile into .bench_build/, then record a class-data-sharing archive
    from a short training run so every measured JVM starts from it."""
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc, out = run_group(sbt_cmd("package", "export Runtime/fullClasspath"), 600,
                                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                                text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
        fh.write(out)
    if rc != 0:
        fail(f"build failed, see {log}")
    cp_line = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l][-1]
    jars = [p for p in cp_line.strip().split(os.pathsep) if p.endswith(".jar")]
    own = [os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(BUILD, "sbt"))
           for f in fs if f.startswith("perfbench_") and f.endswith(".jar")]
    if not own:
        fail("build produced no harness jar")
    classpath = os.pathsep.join(own[:1] + jars)
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    train = run_java(classpath, "dashboard", 1, 1, 0, [f"-XX:ArchiveClassesAtExit={CDS_FILE}"],
                     quiet=True)
    if train is None:
        fail("training run failed")
    with open(CP_FILE, "w") as fh:
        fh.write(classpath)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return classpath


def code_stamp():
    """Git commit when the checkout is a repository, plus a hash of the sources."""
    try:
        commit = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except OSError:
        commit = ""
    return f"{commit or 'no-git'}+src.{source_stamp()[:12]}"


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def run_java(classpath, workload, seed, seconds, trace, cds_arg, quiet=False):
    """Run the harness in a fresh JVM over a fresh scratch dir; return its
    stdout lines, or None when it failed or overran."""
    tmp = os.path.join(BUILD, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--dir", tmp, "--cpus", str(cpus()),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--code", code_stamp(),
            "--record", os.path.join(records, f"{workload}-s{seed}-t{trace}.json")]
    cmd = java_cmd(classpath, args, cds_arg)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    err = open(os.path.join(BUILD, f"last-{workload}.log"), "w")
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=err, text=True)
    except subprocess.TimeoutExpired:
        return None
    finally:
        err.close()
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        if not quiet:
            print(f"perfbench: harness exited {rc}, see {err.name}", file=sys.stderr)
        return None
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard", "mixed", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to the benchmark (expected src/main/scala/graft)")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    # a terminating signal ends the run (and its JVM) like a timeout
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    stamp = source_stamp()
    classpath = None
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read() == stamp:
                with open(CP_FILE) as cf:
                    classpath = cf.read()
    if classpath is None:
        classpath = build(stamp)
    cds = [f"-XX:SharedArchiveFile={CDS_FILE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if os.path.exists(CDS_FILE) else []
    lines = run_java(classpath, a.workload, a.seed, a.seconds, a.trace, cds)
    if not lines:
        fail("run failed")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
