#!/usr/bin/env python3
"""Layered benchmark of graft's pages -> graph -> kernels flow.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_to_rank --seed 1 --seconds 20 --trace 0

The first run builds the engine from the checkout's sources together with
the benchmark (sbt, offline); later runs reuse that build while the sources
are unchanged. The benchmark JVM prints one JSON object as the last line of
standard output: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/README.md for the metrics and workloads.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

BENCH = "perfbench"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# One run, build excluded, must end well inside three minutes.
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(root, BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def classpath(root):
    """Build once per source state; returns the runtime classpath."""
    bench = os.path.join(root, BENCH)
    out_dir = os.path.join(bench, "target")
    stamp_file = os.path.join(out_dir, "perfbench.stamp")
    cp_file = os.path.join(out_dir, "perfbench.classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=bench, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(out_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="2g")
    # Spark's spill and shuffle directory, under the run's work directory
    ap.add_argument("--local-dir", default="spark-local")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(root, BENCH, "build.sbt")):
        fail(f"{BENCH}/build.sbt is missing")

    cp = classpath(root)
    work = os.path.join(root, ".bench_work")
    local_dir = os.path.join(work, a.local_dir)
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local_dir)
    # A fixed, pre-touched heap: heap growth neither lands in a timed rep
    # nor makes peak RSS depend on when G1 chose to expand.
    cmd = (["java", f"-Xms{a.heap}", f"-Xmx{a.heap}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(a.cores), "--work", work])
    t0 = time.time()
    proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {RUN_LIMIT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail("benchmark JVM printed no result")
    print(f"perfbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
