#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark from
source with the Scala compiler that ships with Spark (into .bench_build/,
reused while the sources are unchanged), runs the workload in one JVM
against local[nproc], checks every operation's output, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's spans are
written to .bench_out/.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 165
# Building a workload's seed-independent state happens once per checkout,
# normally in its first run.
PREPARE_TIMEOUT_S = 600

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no library sources under src/main/scala; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build():
    """Compile library and benchmark together; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


def java(classes, work, main, *args):
    """Command line running `main` on the built classes, temp files in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main] +
            [str(a) for a in args])


def bench_jvm(classes, work, timeout, *args):
    """Run BenchMain with `args` and the run-independent arguments."""
    cmd = java(classes, work, "graft.perfbench.BenchMain", *args,
               "--work", work, "--data", os.path.join(HERE, "data"),
               "--cores", os.cpu_count())
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-6000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {rc}")


def prepared(classes, workload, work):
    """The workload's seed-independent state for these classes, built into
    .bench_out/ untimed when missing (the pipe_incremental history)."""
    if workload != "pipe_incremental":
        return ""
    name = f"prepared-{workload}-{os.path.basename(classes)}"
    path = os.path.join(OUT, name)
    if os.path.isdir(path):
        return path
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(work, "prepared")
    bench_jvm(classes, work, PREPARE_TIMEOUT_S, "--workload", workload, "--seed", 0,
              "--seconds", 0, "--trace", 0, "--prepare", 1, "--prepared", tmp)
    os.rename(tmp, path)
    for old in glob.glob(os.path.join(OUT, f"prepared-{workload}-*")):
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    return path


def run_jvm(classes, args, work, state):
    bench_jvm(classes, work, JVM_TIMEOUT_S, "--workload", args.workload, "--seed", args.seed,
              "--seconds", args.seconds, "--trace", args.trace, "--prepared", state)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_failures(work):
    """Cold- and warm-pass results of the catalog queries against DuckDB."""
    import oracle
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(HERE, "data", "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    result = oracle.compare(os.path.join(work, "corpus.json"), h.hexdigest(),
                            os.path.join(OUT, "oracle-cache"))
    return {q: why for q, why in result.items() if why}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    t0 = time.time()
    classes = build()
    t_build = time.time() - t0
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        state = prepared(classes, args.workload, work)
        t_prepare = time.time() - t0 - t_build
        res = run_jvm(classes, args, work, state)
        t_jvm = time.time() - t0 - t_build - t_prepare
        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["failures"])
        if args.workload == "corpus_catalog":
            bad = oracle_failures(work)
            failed = min(attempted, failed + len(bad))
            problems += [f"{q} oracle: {why}" for q, why in sorted(bad.items())]
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"wall: build {t_build:.1f} s, prepare {t_prepare:.1f} s, jvm {t_jvm:.1f} s, "
          f"total {time.time() - t0:.1f} s")
    samples = res["samples"]
    if args.trace:
        values = {m["name"]: res["layer"].get(m["name"], 0.0) for m in wanted}
    else:
        values = {m["name"]: stats.median(samples[m["name"]]) for m in wanted}
    for name in ("setup_s", "run_s", "rerun_s"):
        xs = samples.get(name, [])
        q, v, n = stats.tail_percentile(xs)
        tail = f"p{q}={v:.4f}" if q else "no percentile has 10 samples beyond it"
        print(f"{name}: n={n} median={stats.median(xs) or 0:.4f} {tail}")
    for p in problems:
        print(f"FAILED {p}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
