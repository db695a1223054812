#!/usr/bin/env python3
"""Run one workload of the graft benchmark from the root of a checkout.

    python3 perfbench/run.py --workload ingest_cycles --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt,
offline; outputs under .bench_build/), then runs the workload in one JVM
on local[<cores>] with a single client thread. The last line of stdout is
the result object; the line starting `REPORT ` is the full report. Exits non-zero
without a result if the checkout cannot be built or the run fails.

The first JVM run after a fresh build reads slow (cold caches), so after
a build one short run of the same workload goes first and is discarded;
it also dumps the classes it loaded into a class-data-sharing archive
(.bench_build/classes.jsa) that every later run maps instead of loading
and verifying those classes again.

    --record    write the results each op produced to perfbench/expected/
                (used once, to record the reference results for the checks)
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
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("ingest_cycles", "ops_small")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the JDK packages Spark reaches into; build.sbt reads the same file for tests
with open(os.path.join(HERE, "add-opens.txt")) as _f:
    ADD_OPENS = [l.strip() for l in _f if l.strip()]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark install to build against and run on."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install found: set SPARK_HOME")


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + benchmark; return the runtime classpath and
    whether it was built just now."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "compile", "export Runtime/fullClasspath"],
                      HERE, sbt_env(), BUILD_TIMEOUT_S, merge_stderr=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cps = [l for l in out.stdout.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file) as f:
        return f.read(), True


def run_bounded(cmd, cwd, env, timeout, merge_stderr=False):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT if merge_stderr else subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def run_java(a, cp, seconds, record, jvm_opts):
    """One JVM run of the workload; returns its stdout lines, or fails."""
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    cmd = (["java", "-Xmx3g", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + jvm_opts +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(seconds), "--trace", str(a.trace),
            "--work", os.path.join(run_dir, "work"), "--cores", str(cores)] +
           (["--record", expected] if record else ["--expected", expected]))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    try:
        out = run_bounded(cmd, ROOT, env, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.stdout.splitlines()
    result = None
    if out.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or "correct" not in result:
        sys.stderr.write(out.stderr[-6000:])
        fail(f"run failed (exit {out.returncode})")
    sys.stderr.write("".join(l + "\n" for l in out.stderr.splitlines()
                             if l.startswith(("FAILED", "perfbench:"))))
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    cp, fresh = build()
    if fresh:
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        run_java(a, cp, 1, False, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
        print("perfbench: discarded the first run after the build", file=sys.stderr)
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    print("\n".join(run_java(a, cp, a.seconds, a.record, cds)))


if __name__ == "__main__":
    main()
