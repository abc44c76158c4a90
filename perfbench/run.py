#!/usr/bin/env python3
"""Product benchmark of the engine: builds it from source, runs one workload
and prints one JSON result line.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt into `.bench_build/`; later runs reuse that build while
the sources are unchanged. Each run works in a fresh directory under
`.bench_build/work/`, removed at exit. The last line printed is
`{"correct", "attempted", "failed", "metrics"}`, with each metric's unit taken
from BENCHMARK.json: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
# The per-layer metrics each workload's traced run must report: the spans it
# opens and the values it records. The other workloads' layers read 0.
TRACED = {
    "weather_etl": ("weather.", "trace."),
    "weather_serve": ("server.", "serve.", "loadgen.", "trace."),
    "corpus_curate": ("curate.", "functions.", "operators.", "sources.", "ingest.", "trace."),
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of the engine's repository")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g", "-XX:-UsePerfData",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]))
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], BUILD_TIMEOUT_S,
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    with open(os.path.join(BUILD, "build.log"), "wb") as fh:
        fh.write(out)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json here: run from the root of the repository")
    spec = json.load(open(spec_path))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build()

    lines = open(LAUNCH).read().splitlines()
    classpath, jvm = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm,
           "-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", os.path.join(work, "data")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    text = out.decode(errors="replace").rstrip("\n").split("\n")
    for line in text[:-1]:
        print(line)
    try:
        raw = json.loads(text[-1])
    except (ValueError, IndexError):
        fail(f"the benchmark printed no result (exit code {code})")

    # Every metric of the list, with its unit. A traced run reports the
    # layers of its own workload; the other workloads' layers were not
    # opened and read 0.
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    own = TRACED[a.workload] if a.trace else ("",)
    missing = sorted(m["name"] for m in wanted
                     if m["name"] not in raw["metrics"] and m["name"].startswith(own))
    metrics = {m["name"]: {"value": raw["metrics"].get(m["name"], 0), "unit": m["unit"]}
               for m in wanted if m["name"] not in missing}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    if code != 0:
        fail(f"workload failed its checks (exit code {code})", code)
    if missing:
        fail(f"missing metrics {missing}", 1)


if __name__ == "__main__":
    main()
