#!/usr/bin/env python3
"""Run one graft benchmark workload at one seed.

    python3 perfbench/run.py --workload raster-etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt (offline, the same
toolchain the engine's own build uses) and caches the compiled classes
under .bench_build/<source digest>/; later runs reuse them until a
source file changes. The
workload runs in one JVM; its result is the last line of standard
output, one JSON object. Exit status is non-zero, with no result
printed, when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("raster-etl", "curation-build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets
# for the engine's own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads: engine and benchmark."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(digest):
    """Build once per source digest; return the runtime classpath.

    sbt compiles into target/ directories that any later build
    overwrites, so the class directories of a build are copied into
    .bench_build/<digest>/ and the cached classpath names the copies:
    a cached build always runs the code of its own sources.
    """
    cached = os.path.join(BUILD, digest)
    cp_file = os.path.join(cached, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    # sbt is a launcher script that starts a JVM: run it in its own
    # process group so a timeout stops both
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=" ".join(filter(None, [
        os.environ.get("SBT_OPTS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])))
    proc = subprocess.Popen(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, env=env,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out", 3)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    entries = lines[-1].split(os.pathsep) if lines else []
    dirs = [e for e in entries if os.path.isdir(e)]
    if proc.returncode != 0 or len(dirs) < 2:
        sys.stderr.write(stdout)
        fail("build failed", 3)
    staging = cached + f".tmp-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    copies = {}
    for i, d in enumerate(dirs):
        copies[d] = os.path.join(cached, f"classes-{i}")
        shutil.copytree(d, os.path.join(staging, f"classes-{i}"))
    cp = os.pathsep.join(copies.get(e, e) for e in entries)
    with open(os.path.join(staging, "classpath.txt"), "w") as fh:
        fh.write(cp)
    shutil.rmtree(cached, ignore_errors=True)
    os.rename(staging, cached)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--wrong-expected", choices=("0", "1"), default="0",
                    help="corrupt one expected answer (self-test)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (engine sources not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    digest = source_digest()
    cp = classpath(digest)
    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    # the JIT as the engine's own forked runs set it (build.sbt), plus
    # -Xss64m: RasterOps.cutline nests one expression level per ring
    # vertex, deeper than the default stack plans
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
              "-XX:+UseCodeCacheFlushing", "-Xss64m",
              "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--wrong-expected", args.wrong_expected])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_SOURCE=digest)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})", 5)
    # run info first, the result as the last line
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
