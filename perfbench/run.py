#!/usr/bin/env python3
"""Benchmark of the weather pipeline: Pipeline.run over seeded OWM JSON,
and a per-family sample of the SparkEntry queries; traced runs add the
per-layer ledger, including an open-loop StreamingPipeline.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (once per source
state), runs one JVM for the workload, and prints its result as one JSON
object on the last line of standard output: with --trace 0 every
end-to-end metric of BENCHMARK.json, with --trace 1 every per-layer one (a
layer the workload does not run reads 0). See perfbench/README.md.
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
WORKLOADS = ("batch_dense", "query_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile with sbt unless the classpath for these sources exists."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench.classpath")
    st = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == st:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         HERE, BUILD_TIMEOUT_S, out, subprocess.STDOUT, env)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": st, "classpath": cps[-1]}, fh)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is not at the root of this checkout")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    classpath = build()
    started = time.monotonic()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dperfbench.home={HERE}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cpus", str(cpus), "--work", work])
    out_path = os.path.join(work, "stdout.log")
    err_path = os.path.join(work, "stderr.log")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_bounded(cmd, work, RUN_TIMEOUT_S - (time.monotonic() - started), out, err)
    with open(out_path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"workload {a.workload} did not finish (exit {rc})")
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace == "1" else "end_to_end"]
    measured = result["metrics"]
    unknown = set(measured) - {m["name"] for m in declared}
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if a.trace == "0" and len(measured) != len(declared):
        fail("an end-to-end metric is missing from the result")
    result["metrics"] = {m["name"]: measured.get(m["name"], {"value": 0, "unit": m["unit"]})
                         for m in declared}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
