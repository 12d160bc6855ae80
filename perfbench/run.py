#!/usr/bin/env python3
"""Benchmark command: builds the engine, runs one workload, prints one JSON.

    python3 perfbench/run.py --workload ingest|sweep \
        --seed N --seconds S --trace 0|1

The workload runs in one local[4] Spark JVM (`perfbench.Main`).  The last
line of standard output is the result object with the keys `correct`,
`attempted`, `failed` and `metrics`; with `--trace 0` the metrics are the
end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer ones.
The JVM gets that list of names and units and reports it in that order.
A failed output check prints the result with `"correct": false` and exits 1.

    python3 perfbench/run.py --self-test --workload W --seed N --seconds S

runs the traced workload twice with the same seed and exits 1 unless every
work counter (unit `count` or `bytes`) reads the same in both runs.

Everything the benchmark writes (classes, generated inputs, stores, spark
scratch, span files) stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "sweep")
RESULT_TAG = "PERFBENCH_RESULT "
# the JVM gets this long; the contract allows 180 s for the whole command
JVM_TIMEOUT_S = 170
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, args, timeout):
    """Runs perfbench.Main; returns the parsed result object or None."""
    work = build.WORK
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed set of JIT compiler threads, whose CPU time Main reads apart
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"] + opens +
           ["-cp", cp, "perfbench.Main", "--work", work] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: JVM exceeded {timeout} s", file=sys.stderr)
        return None
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        print(f"run: JVM exited with code {proc.returncode}", file=sys.stderr)
        return None
    return result


def spec():
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def self_test(classes, jvm_args):
    """Two traced same-seed runs must agree on every work counter."""
    counters = [m["name"] for m in spec()["per_layer"]
                if m["unit"] in ("count", "bytes")]
    runs = []
    for _ in range(2):
        res = run_jvm(classes, jvm_args, JVM_TIMEOUT_S)
        if res is None or not res["correct"]:
            print("self-test: traced run failed", file=sys.stderr)
            return 1
        runs.append(res["metrics"])
    diff = [n for n in counters
            if runs[0][n]["value"] != runs[1][n]["value"]]
    for n in diff:
        print(f"self-test: {n} differs: {runs[0][n]['value']} vs "
              f"{runs[1][n]['value']}", file=sys.stderr)
    print(json.dumps({"self_test": "fail" if diff else "pass",
                      "counters": len(counters), "differing": diff}))
    return 1 if diff else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    classes = build.build()
    trace = 1 if a.self_test else a.trace
    metrics = spec()["per_layer" if trace else "end_to_end"]
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(trace),
                "--metrics", ",".join(f"{m['name']}={m['unit']}"
                                      for m in metrics)]
    if a.self_test:
        return self_test(classes, jvm_args)
    t0 = time.time()
    res = run_jvm(classes, jvm_args, JVM_TIMEOUT_S)
    if res is None:
        return 1
    print(f"run: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
