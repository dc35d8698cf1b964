#!/usr/bin/env python3
"""graft benchmark: runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --heap 3g --gc-threads 2 \\
        --workload registry_queries --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run compiles graft and the
benchmark (perfbench/build.py) into .bench_build/perfbench; later runs reuse
the classes. The inputs are the committed sf0.01 and sf0.1 datasets under
perfbench/data.
Each run gets a private, empty directory for java.io.tmpdir, spark.local.dir
and the warehouse, which is deleted when the run ends, so build-once stores
(ANN index, BPE store, glog stores) never survive from one run to the next.

The last line on stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end ones, or per-layer ones with --trace 1). A full
record of the run (host conditions, phases, per-operation times, failures,
spans) goes to .bench_build/perfbench/records/. The exit code is 1 when any
result disagrees with its expectation, 2 when the benchmark cannot run.

    python3 perfbench/run.py --selftest     # the benchmark's own tests
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402

WORKLOADS = ("registry_queries", "log_store")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

DATA = os.path.join(HERE, "data")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classpath, main, args, run_dir, heap, gc_threads):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-XX:ParallelGCThreads={gc_threads}",
            f"-XX:ConcGCThreads={max(1, gc_threads // 2)}",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, main, *args]


def child_env():
    # graft reads SPARK_GRAFT_* overrides; the benchmark runs the defaults
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def run_jvm(cmd, cwd, timeout):
    proc = subprocess.Popen(cmd, cwd=cwd, env=child_env(), stdout=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def fresh_run_dir():
    for stale in glob.glob(os.path.join(build.OUT, "run-*")):
        shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}-{int(time.time())}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def bench(a):
    classpath = build.build()
    run_dir = fresh_run_dir()
    records = os.path.join(build.OUT, "records")
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json")
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--data", DATA,
            "--run-dir", run_dir, "--expected", os.path.join(HERE, "queries", "expected.tsv"),
            "--out", out, "--record-file", record]
    queries = os.path.join(HERE, "queries", f"{a.workload}.tsv")
    if os.path.exists(queries):
        args += ["--queries", queries]
    if a.record_expected:
        args += ["--record-expected", os.path.abspath(a.record_expected)]
    try:
        code = run_jvm(jvm_command(classpath, "graftbench.Main", args, run_dir, a.heap,
                                   a.gc_threads), build.ROOT, JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"[perfbench] benchmark JVM exited with code {code}")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(record) as fh:
        rec = json.load(fh)
    print(f"[perfbench] record {record}: cores {rec['cores']}, heap {rec['max_heap_mb']} MB, "
          f"steal {rec['steal_s']:.1f} s, process cpu {rec['process_cpu_s']:.1f} s, phases " +
          ", ".join(f"{p['phase']} {p['wall_s']:.1f}s" for p in rec["phases"]), file=sys.stderr)
    if a.trace:
        # every traced run prints every per-layer metric; one the workload
        # does not exercise reads 0
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            for m in json.load(fh)["per_layer"]:
                result["metrics"].setdefault(m["name"], {"value": 0, "unit": m["unit"]})
        print_layer_map(result["metrics"])
    if not result["correct"]:
        print(f"[perfbench] {result['failed']} of {result['attempted']} operations failed; "
              f"see {record}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def print_layer_map(metrics):
    with open(os.path.join(HERE, "layers.json")) as fh:
        table = json.load(fh)
    print("[perfbench] per-layer metric -> end-to-end metric it should move (workload)",
          file=sys.stderr)
    for row in table:
        for name in row["metrics"]:
            v = metrics.get(name, {}).get("value")
            print(f"  {row['layer']:<22} {name:<34} {v!s:<22} -> "
                  f"{', '.join(row['moves'])}", file=sys.stderr)


def selftest():
    classpath = build.build()
    run_dir = fresh_run_dir()
    try:
        code = run_jvm(jvm_command(classpath, "graftbench.SelfTest", [], run_dir, "1g", 1),
                       build.ROOT, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    py = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                         os.path.join(HERE, "tests")])
    return 0 if code == 0 and py.returncode == 0 else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--heap", help="JVM heap, used for both -Xms and -Xmx")
    p.add_argument("--gc-threads", type=int, help="parallel GC threads")
    p.add_argument("--record-expected", metavar="FILE",
                   help="write the expected fingerprints and fresh-JVM job counts "
                        "of registry_queries to FILE instead of checking them")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    try:
        if a.selftest:
            return selftest()
        missing = [k for k in ("workload", "seed", "seconds", "trace", "heap", "gc_threads")
                   if getattr(a, k) is None]
        if missing:
            p.error("missing " + ", ".join("--" + m.replace("_", "-") for m in missing))
        return bench(a)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    except subprocess.TimeoutExpired:
        print(f"[perfbench] the run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
