#!/usr/bin/env python3
"""The benchmark: one run of one workload.

Usage:
  python3 perfbench/run.py --workload <surface|mr_corpus>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (cached in .bench_build/), makes the
workload's inputs from the seed (cached in .bench_cache/), runs the JVM
side (perfbench/scala) at local[nproc] with one client in a closed loop for
about --seconds, checks the outputs, and prints every metric with its
unit. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The run's scratch goes to
.bench_work/<workload>/; what stays there afterwards is the JVM's log and
result.json, which holds every timing, span and listener event measured.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build    # noqa: E402
import checks   # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

# the module openings spark-submit passes to a JDK 17 JVM
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 165


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = gen.spec()
    if a.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    ops = list(spec["workloads"][a.workload]["ops"])
    random.Random(a.seed).shuffle(ops)

    classes = build.build()
    data = gen.inputs(a.workload, a.seed)
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(build.spark_jars(), "*")
    # a fixed heap, as Spark gives its executors: no heap resizing mid-run
    cmd = ["java", *ADD_OPENS, "-Xms" + spec["heap"], "-Xmx" + spec["heap"],
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classes + os.pathsep + jars,
           "perfbench.PerfBench", a.workload, data, os.path.join(work, "out"),
           str(a.seconds), str(a.trace), str(cores()), ",".join(ops)]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            cwd=work, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("stopped before the JVM finished")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    log.close()
    result = os.path.join(work, "out", "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log.name) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"the JVM exited with code {rc}")
    with open(result) as fh:
        res = json.load(fh)

    chk = res["checks"]
    if chk["kind"] == "mr":
        wrong = checks.mr_check(data, chk["outputs"])
    else:
        wrong = checks.oracle_check(data, chk["dir"], ops)
    thrown = [s for s in res["samples"] if not s["ok"]]
    attempted = len(ops) + len(res["samples"])
    failed = len(set(res["prepare_failures"]) | wrong) + len(thrown)

    ms = metrics.per_layer(res) if a.trace else metrics.end_to_end(res)
    for name, (value, unit) in ms.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"operations: {attempted} attempted, {failed} failed; "
          f"{res['passes']} passes in {res['timed_s']:.1f} s at local[{res['cores']}]")
    # keep the measurements and spans of the last run; drop its outputs
    os.replace(result, os.path.join(work, "result.json"))
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()},
    }))


if __name__ == "__main__":
    main()
