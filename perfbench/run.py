#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, end-to-end and per-layer metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 16 --trace 0

The script builds graft and the benchmark from source with sbt (again
whenever the sources differ from the last build), generates the workload's
inputs from the seed, runs the JVM side (`perfbench.Main`) and prints its
result. The last line of standard
output is one JSON object with the keys `correct`, `attempted`, `failed` and
`metrics`; the line before it is a dump with sample counts, per-job medians,
result digests and the traced/untraced pass times. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. The exit code is not 0
when the build fails, a job fails or an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["mr_corpus", "neardup_stream"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
BUILD_DIR = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(roots[0]):
        fail("graft sources not found next to the benchmark (%s)"
             % ", ".join(os.path.relpath(f, ROOT) for f in missing or [roots[0]]))
    return sorted(files)


def classpath():
    """Build with sbt unless the last build here was of these very sources.

    The build compiles into the checkout's shared `target/` directories, so
    only the last build's classes exist: one stamp file names the sources
    they were built from, and any other source state rebuilds.
    """
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    built = os.path.join(BUILD_DIR, "built.txt")
    if os.path.isfile(built):
        with open(built) as f:
            last, cp = (f.read().split("\n") + [""])[:2]
        if last == stamp and cp:
            return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    if os.path.exists(built):
        os.remove(built)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false",
                                "compile", "export Runtime/fullClasspath"],
                               cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see %s" % log)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail("build failed; see %s" % log)
    cp = lines[-1].strip()
    with open(built, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    seed = a.seed % 2 ** 63  # any integer seed, as a non-negative 64-bit value

    cp = classpath()
    t_start = time.time()

    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    os.makedirs(os.path.join(WORK, "tmp"))
    if a.workload == "mr_corpus":
        gen.corpus(data, seed)
    else:
        gen.fixture(os.path.join(data, "fixture"))

    t_gen = time.time()
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", WORK, "--cpus", str(cpus),
              "--expected", os.path.join(HERE, "expected_digests.json")])
    log = os.path.join(BUILD_DIR, "jvm.log")
    limit = max(10.0, RUN_LIMIT_S - (time.time() - t_start))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded %d s; see %s" % (RUN_LIMIT_S, log), 3)
    shutil.rmtree(WORK, ignore_errors=True)
    print("perfbench: inputs %.1f s, jvm %.1f s"
          % (t_gen - t_start, time.time() - t_gen), file=sys.stderr)

    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        fail("no result from the JVM (exit %d); see %s" % (p.returncode, log), 3)
    result = json.loads(lines[-1])
    print(lines[-2])
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
