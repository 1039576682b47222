#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_poll --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the library sources
at the repository root alongside the harness) on first use, runs the
workload in one JVM, checks its outputs, and prints one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
metrics. Exits non-zero, printing no result, when anything is missing.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
# The layers each workload's traced run measures; the per-layer metrics of
# every other layer are reported as 0 for it.
LAYERS = {
    "ingest_poll": {"sources", "streaming", "envelope", "sink", "engine", "trace"},
    "dedup_stream": {"streaming", "dedup", "deltastore", "similarity", "queries",
                     "engine", "trace"},
}
JVM_OPENS = [
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


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_home():
    """SPARK_HOME, or the installation whose jars the library's build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        fail("SPARK_HOME is not set and the library's build names no Spark jars")
    return os.path.dirname(m.group(1).rstrip("/"))


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Djava.io.tmpdir=" + tmp, "-Xmx2g"])
    return env


def build():
    """Compile once per checkout; rebuild when a source is newer."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return open(CLASSPATH).read().strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = out.stdout.strip().splitlines()[-1].strip()
    if "classes" not in cp:
        fail("could not read the runtime classpath from sbt")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found next to perfbench/")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    out_path = os.path.join(WORK, "result.json")
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
           + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK, "--out", out_path])
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=170)
    if proc.returncode != 0 or not os.path.exists(out_path):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"workload JVM exited with {proc.returncode}")
    res = json.load(open(out_path))
    errors = list(res["errors"])
    curate = os.path.join(WORK, "curate", "oracle.json")
    if os.path.exists(curate):
        sys.path.insert(0, HERE)
        import oracle
        errors += oracle.compare(os.path.dirname(curate))
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    for k, v in res.get("notes", {}).items():
        print(f"note: {k} = {v}", file=sys.stderr)
    print(f"wall: {time.time() - t0:.1f} s", file=sys.stderr)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if args.trace and m["name"].split(".")[0] not in LAYERS[args.workload]:
            got = {"value": 0}
        if got is None or got["value"] is None:
            fail(f"workload did not report {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": not errors, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
