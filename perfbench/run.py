"""Benchmark entry point.

    python3 perfbench/run.py --workload <loops_small|loops_large|cell_kernels>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in a single JVM: a local[nproc] Spark session, seeded
inputs, one discarded warm-up pass, then timed passes for --seconds seconds.
The JVM prints the result as its last stdout line. This script keeps from
it exactly the metrics BENCHMARK.json declares for the mode (end_to_end with
--trace 0, per_layer with --trace 1), reports a declared per-operator metric
of an operator the workload does not run as 0, moves any other metric into
the run record line, and prints the result as its own last stdout line.
Exits non-zero without a result when the build, the run or the result fails.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("loops_small", "loops_large", "cell_kernels")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's own build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.build_dir(), "perfbench", "run")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx4g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), work]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_TIMEOUT_S, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s")
    lines = r.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: JVM exited {r.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    result["metrics"] = {}
    for m in declared:
        name = m["name"]
        if name in got:
            result["metrics"][name] = got.pop(name)
        elif a.trace:
            result["metrics"][name] = {"value": 0, "unit": m["unit"]}
        else:
            sys.exit(f"perfbench: end-to-end metric {name} missing")
    if got:
        print(json.dumps({"undeclared_metrics": got}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
