#!/usr/bin/env python3
"""Benchmark driver for the graft anonymizer/dedup/linkage library.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark program from source with sbt (once;
later runs reuse the build while the sources are unchanged), runs the
benchmark in one JVM and prints one JSON result as the last line of
stdout. The workloads and the metrics reported, with their units, are the
ones BENCHMARK.json declares. Scratch data goes to .bench_work/ and is
removed afterwards; the full record of each run (input properties, regime
label, samples, spans, Spark jobs) goes to
.bench_out/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# what the build reads: the library's sources and build, and ours
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            fail(f"missing {rel}: run from the root of a full checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the stamped sources are unchanged; returns
    the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as cp:
                    return cp.read()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    produced = os.path.join(HERE, "target", "classpath.txt")
    if rc != 0 or not os.path.exists(produced):
        fail(f"build failed, see {log}")
    shutil.copyfile(produced, cp_file)
    with open(stamp, "w") as fh:
        fh.write(want)
    with open(cp_file) as cp:
        return cp.read()


def java(classpath, work, args):
    """Runs the benchmark JVM; returns its last stdout line as JSON."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["perfbench.Main", "--work", work] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    finally:
        # on a timeout or a signal to this process, stop the JVM too
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(lines[-1])


def declared():
    """The workload names and the metric units BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("missing BENCHMARK.json: run from the repository root")
    with open(path) as fh:
        spec = json.load(fh)
    units = {key: {m["name"]: m["unit"] for m in spec[key]}
             for key in ("end_to_end", "per_layer")}
    return [w["name"] for w in spec["workloads"]], units


def main():
    # SIGTERM unwinds like an exception, so the finally blocks run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workloads, declared_units = declared()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        res = java(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out])
        metrics = res["metrics"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = declared_units["per_layer" if a.trace else "end_to_end"]
    missing = sorted(set(units) - set(metrics))
    if missing:
        fail(f"metrics missing from the run: {missing}")
    print(json.dumps({"info": res["info"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
