#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM on local[4].

Run from the root of a source checkout:

    python3 perfbench/run.py --workload ref_query --seed 1 --seconds 20 --trace 0

The first run compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler shipped in Spark's jars
($SPARK_HOME, or the installation of a `spark-submit` on PATH) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes
while the sources are unchanged, and the generated input tables while
neither the sources nor the base data under perfbench/data change. The
last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The exit code is 0
only when every output check passed.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import summarize  # noqa: E402

WORKLOADS = ("ref_query", "corpus_dedup", "vector_serve", "knn_graph")
DATA = "perfbench/data/sf0.1"
DEADLINE_S = 175
CACHED_INPUTS = 6
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
] + [opt for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def files_under(top, suffix):
    if not os.path.isdir(top):
        fail(f"no {top} here: run from the root of a graft checkout")
    return sorted(os.path.join(d, f) for d, _, files in os.walk(top)
                  for f in files if f.endswith(suffix))


def digest(paths):
    h = hashlib.sha256()
    for path in paths:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark installation whose
    bin/spark-submit is on PATH and whose jars include a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars_dir = os.path.join(home, "jars")
        jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                      if j.endswith(".jar")) if os.path.isdir(jars_dir) else []
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark installation with a Scala compiler: set SPARK_HOME")


def build(build_dir, jars, srcs, deadline):
    classes = os.path.join(build_dir, "classes-" + digest(srcs))
    if os.path.exists(os.path.join(classes, "_OK")):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", ":".join(jars)] + srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(jars),
             "scala.tools.nsc.Main", "@" + argfile],
            timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("compilation timed out", 1)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed", 1)
    open(os.path.join(classes, "_OK"), "w").close()
    return classes


def prune_inputs(build_dir, cache):
    """Drops input caches of other sources or data, and all but the newest
    CACHED_INPUTS (seed, replica) tables in `cache`."""
    for old in os.listdir(build_dir):
        if old.startswith("inputs-") and os.path.join(build_dir, old) != cache:
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    if not os.path.isdir(cache):
        return
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e) for e in os.listdir(cache))
    for _, e in entries[:-CACHED_INPUTS]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def run_jvm(args, classes, jars, build_dir, inputs_key, deadline):
    work = os.path.abspath(os.path.join(build_dir, f"run-{os.getpid()}"))
    cache = os.path.abspath(os.path.join(build_dir, "inputs-" + inputs_key))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    prune_inputs(build_dir, cache)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", ":".join([classes] + jars), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cache", cache, "--data", os.path.abspath(DATA)]
    log_path = os.path.join(build_dir, "last-run.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {DEADLINE_S} s; JVM log in {log_path}", 1)
            except BaseException:  # interrupted or terminated: never leave the JVM behind
                proc.kill()
                proc.wait()
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = [l for l in out.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        fail(f"JVM exited with {proc.returncode} and no record; log in {log_path}", 1)
    record = raw[-1][len("PERFBENCH_RAW "):]
    with open(os.path.join(build_dir, "last-run.json"), "w") as f:
        f.write(record)
    return json.loads(record)


def main():
    start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    srcs = files_under("src/main/scala", ".scala") + files_under("perfbench/src", ".scala")
    data = files_under(DATA, ".parquet")
    jars = spark_jars()
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build(build_dir, jars, srcs, start + 900)
    # generated tables depend on the generator's code and on the base data
    inputs_key = digest(srcs + data)
    raw = run_jvm(args, classes, jars, build_dir, inputs_key, time.time() + DEADLINE_S)

    if args.trace:
        metrics = summarize.per_layer(raw)
        units = summarize.PER_LAYER
    else:
        metrics, details = summarize.end_to_end(raw)
        units = summarize.END_TO_END
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "replicas": raw["replicas"], **details}))
    for e in raw["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    correct = raw["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
