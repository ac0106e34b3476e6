#!/usr/bin/env python3
"""End-to-end benchmark of the churn app and the corpus pipelines.

    python3 perfbench/run.py --workload churn_app --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the package under test is imported from
that checkout's source, and the inputs are seeded copies of
``perfbench/data``. One client runs
closed-loop iterations of the workload's op groups on
``local[<usable cores>]`` through ``session.get_spark`` until ``--seconds``
have passed (at least one iteration), checks every output against
``expected.json``, and prints a report followed by one JSON line:

* ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
* ``--trace 1``: Spark's JSON event log is switched on at launch, and the
  per-layer metrics of BENCHMARK.json are read from it.

The full report (every metric of every op group with median, quartiles
and sample count, and the per-op layer table of a traced run) is written
to ``perfbench/out/<workload>-seed<seed>-trace<trace>.json``. The exit code
is 0 only when every op ran and every output check passed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import expected as expected_mod
import layers
import sampling
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")

# workload -> (op groups run in each iteration, untimed warm-up iterations).
# churn_app models a long-running app: timing starts after its first,
# slowest iterations (measured 3.9 -> 3.2 -> 3.0 s). corpus models a
# corpus build started as its own application, which pays the fresh JVM's
# JIT and code generation on every run (its first iteration takes ~45 s
# against ~25 s warm); a warm-up would also double its run time, which the
# benchmark's run budget cannot afford.
WORKLOADS = {
    "churn_app": (["churn_app"], 2),
    "corpus": (["corpus_batch", "corpus_stream"], 0),
}
# the end-to-end metrics every workload has, which BENCHMARK.json gates
GATED_END_TO_END = ["iteration_s", "setup_s"]
# input generation is repeated this many times and its median reported
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_env(work: str, trace: bool) -> None:
    """Launch-time settings of the driver JVM, none of them a package knob:
    scratch space inside the checkout, no console progress bars, and for a
    traced run the uncompressed single-file JSON event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            }
        )
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def storage_mb_held(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM this process launched and
    wait for it (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        # the program under test: this checkout's package, nothing else
        from bigdata_group4_app_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, get_spark) -> int:
    groups, warmups = WORKLOADS[args.workload]
    launch_env(work, bool(args.trace))
    expected = expected_mod.load()

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        bench = wl.Bench(spark)
        bench.tag("bench/setup/execute")

        input_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inputs = wl.write_inputs(groups, args.seed, work)
            input_s.append(time.perf_counter() - t)

        def iteration(label: str) -> None:
            bench.label = label
            for g in groups:
                wl.GROUPS[g](bench, inputs, expected)
            bench.extra("storage_mb_held", storage_mb_held(spark))
            spark.catalog.clearCache()

        aborted = None
        warmup_s = 0.0
        try:
            t = time.perf_counter()
            for k in range(warmups):
                iteration(f"warmup{k}")
            warmup_s = time.perf_counter() - t
            t_measure = time.perf_counter()
            k = 0
            while k == 0 or time.perf_counter() - t_measure < args.seconds:
                iteration(f"it{k}")
                k += 1
        except wl.OpFailed as e:
            aborted = str(e)
        setup_s = session_s + statistics.median(input_s) + warmup_s
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    labels = sorted({s.label for s in bench.spans if s.label.startswith("it")})
    measured = [o for o in bench.outcomes if o.label.startswith("it")]
    failed = sum(o.problem is not None for o in bench.outcomes)
    attempted = max(1, len(measured))
    e2e = wl.end_to_end(bench, labels, groups)
    e2e["setup_s"] = {"values": [setup_s], "unit": "s"}
    e2e["peak_rss_mb"] = {"values": [rss_mb], "unit": "MB"}
    e2e["ops_failed_ratio"] = {"values": [failed / attempted], "unit": "ratio"}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "iterations": len(labels),
        "setup": {"session_s": session_s, "input_s": input_s, "warmup_s": warmup_s},
        "aborted": aborted,
        "failures": [o.__dict__ for o in bench.outcomes if o.problem],
        "end_to_end": {k: {**sampling.summary(v["values"]), **v} for k, v in e2e.items()},
    }
    if args.trace:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        stats = layers.read_event_log(logs[0])
        per_op, per_layer = layers.attribute(bench, stats, labels, wl.OP_LAYER)
        report["per_op"] = per_op
        report["per_layer"] = per_layer
    print_report(report)

    os.makedirs(OUT_DIR, exist_ok=True)
    out_path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, default=str)

    correct = failed == 0 and aborted is None
    if args.trace:
        metrics = {k: {"value": v["median"], "unit": v["unit"]} for k, v in report["per_layer"].items()}
    else:
        metrics = {
            k: {"value": report["end_to_end"][k]["median"], "unit": report["end_to_end"][k]["unit"]}
            for k in GATED_END_TO_END
        }
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1



def print_report(report: dict) -> None:
    print(
        f"# {report['workload']} seed={report['seed']} trace={report['trace']} "
        f"iterations={report['iterations']} aborted={report['aborted']}"
    )
    for name, m in [*report["end_to_end"].items(), *report.get("per_layer", {}).items()]:
        extra = f" percentile={m['percentile']}" if "percentile" in m else ""
        print(
            f"{name:<40} median={m['median']} q1={m['q1']} q3={m['q3']} "
            f"n={m['n']} unit={m['unit']}{extra}"
        )
    for f in report["failures"]:
        print(f"FAILED {f['group']}/{f['op']} [{f['label']}]: {f['problem']}")


if __name__ == "__main__":
    sys.exit(main())
