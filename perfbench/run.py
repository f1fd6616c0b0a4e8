"""Benchmark of the Spark ETL program: one seeded workload per run.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 10 --trace 0

Builds the program and the runner from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
runner in one JVM at local[all cores], checks every output
(perfbench/check.py) and prints the metrics: end-to-end ones with
`--trace 0`, per-layer ones from the traced run with `--trace 1`. The last
line of standard output is the result as one JSON object. Workloads:
etl_small, stream_ingest, corpus_dedup (see DESIGN.md).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_small", "stream_ingest", "corpus_dedup")
# What `spark-submit` would pass on JDK 17 (the program's build.sbt uses the
# same list for its forked runs).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
JVM_TIMEOUT_S = 150


def run_jvm(classpath, workload, inputs, work, seconds, trace, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            # call sites keep enough frames to reach the program's own
            "-Dspark.callstack.depth=200", "-cp", classpath] +
           [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["perfbench.Main", workload, inputs, os.path.join(work, "run"), str(seconds),
            str(trace), out])
    log = os.path.join(work, "runner.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit("runner failed (%s); log: %s" % (rc, log))


def declared_units(kind):
    """name -> unit of BENCHMARK.json's `kind` metrics."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    work = os.path.join(build.ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    expected = gen.generate(args.workload, args.seed, inputs, int(args.seconds))
    out_file = os.path.join(work, "out.json")
    run_jvm(classpath, args.workload, inputs, work, args.seconds, args.trace, out_file)
    with open(out_file) as f:
        out = json.load(f)

    attempted, failed, ctx = check.check(out, expected, os.path.join(work, "run"))
    kind = "per_layer" if args.trace else "end_to_end"
    units = declared_units(kind)
    values = (metrics.per_layer if args.trace else metrics.end_to_end)(out, ctx)
    if set(values) != set(units):
        raise SystemExit("metrics differ from BENCHMARK.json's %s: %s" % (
            kind, sorted(set(values) ^ set(units))))
    values = {k: (v, units[k]) for k, v in values.items()}
    for name, (value, unit) in sorted(values.items()):
        print("%-34s %14.4f %s" % (name, value, unit))
    print("attempted %d, failed %d" % (attempted, failed))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
