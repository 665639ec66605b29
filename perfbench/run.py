#!/usr/bin/env python3
"""Benchmark of the library through its public entry points.

    python3 perfbench/run.py --workload {geonames,registry} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Workloads (see ``workloads.py``):

- ``geonames``: the GeoNames job (``download_step`` then
  ``transform_step``) on a seeded 25k-row dump served from a
  ``file://`` directory: NL and DE plus a 1,000-URI allowlist, writing
  the PIT and relation NDJSON and the reference's envelope stream.
- ``registry``: one registry query per op (build, then the noop sink)
  over the sf0.01 fixture tables: a fixed 8-query set, one per cost
  stratum, in seeded order.

The run sets up three times (the first from process start, the others
after stopping the session) and reports the median. It then runs
untimed warm-up ops (four GeoNames ops; three passes over the query set),
and then ops in a closed loop until their summed wall reaches
``--seconds``, in whole passes over the workload's items (at least five
GeoNames ops; at least three passes over the query set, so each query's
median wall discards one slowed repeat). Every op's output is checked
against a DuckDB oracle outside the timed window. The last line of stdout is the
result; the line before it carries context: op count, tail percentile,
the driver JVM's peak resident set, the reference baseline and, with
``--trace 1``, the tracing overhead against the last untraced run of the
workload. ``--trace 1`` traces the loop and reports per-layer metrics
(per-op means of span self time and counts, and Spark's counters by job
group) in place of the end-to-end ones.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
DEADLINE_S = 170
CLK_TCK = os.sysconf("SC_CLK_TCK")

# The run environment, pinned so every run sees the same engine shape:
# four cores, a driver heap that fits a 15 GiB box beside other work,
# Spark scratch inside the checkout, and Python workers that can import
# the library (UDF queries fail without it).
ENV = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "3g",
    "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
    "PYTHONPATH": ROOT,
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "ingest.download_s": "s",
    "ingest.bytes_landed": "bytes",
    "geonames.build_s": "s",
    "geonames.transform_s": "s",
    "sources.write_ndjson_s": "s",
    "sources.write_lines_s": "s",
    "sources.bytes_written": "bytes",
    "sources.pits_bytes": "bytes",
    "sources.relations_bytes": "bytes",
    "sources.envelope_bytes": "bytes",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "functions.pin_calls": "count",
    "functions.pin_s": "s",
    "spark.jobs": "count",
    "spark.build_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "op.self_s": "s",
    "op.wall_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and its live
    descendants: here the benchmark, the driver JVM that also runs the
    executors, and Spark's Python workers."""
    total, todo = 0.0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / CLK_TCK
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # the process or thread has just exited
            continue
    return total


def measure(wl, seconds: float, min_ops: int,
            tracer=None) -> tuple[list[float], list, list[float], int]:
    """Closed loop of ops until their summed wall reaches ``seconds``, at
    least ``min_ops`` ran and the last pass over the workload's items is
    whole. Returns (op walls, the item of each op, op CPU seconds, ops
    that passed)."""
    from contextlib import nullcontext

    walls: list[float] = []
    done: list = []
    cpus: list[float] = []
    passed = 0
    items = wl.items()
    while sum(walls) < seconds or len(walls) < min_ops or len(walls) % wl.pass_len:
        item = next(items)
        done.append(item)
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with tracer.op_span() if tracer else nullcontext():
                result = wl.op(item)
        except Exception:  # a failed op is counted, and the loop goes on
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - cpu0)
            log(f"op {item!r} failed:\n{traceback.format_exc()}")
            continue
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(os.getpid()) - cpu0)
        log(f"op {item!r} {walls[-1]:.3f} s {cpus[-1]:.2f} cpu-s")
        try:
            ok = wl.check(item, result)
        except Exception:
            log(f"check of op {item!r} failed:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            log(f"op {item!r} failed its output check")
        passed += ok
    return walls, done, cpus, passed


def per_layer(tracer, get_spark_s: list[float]) -> dict:
    selfs = tracer.self_times()
    sparks = tracer.spark_counters()
    walls = tracer.op_walls()
    for i, wall in enumerate(walls):
        gap = abs(sum(selfs[i].values()) - wall)
        if gap > 1e-6:
            raise RuntimeError(f"op {i}: self times miss its wall by {gap:.6f} s")
    n = len(walls)
    values = dict.fromkeys(PER_LAYER, 0.0)
    for layer_self, counts, spark in zip(selfs, tracer.counters, sparks):
        for name, sec in layer_self.items():
            values[f"{name}_s"] += sec / n
        for name, value in {**counts, **spark}.items():
            if name in values:
                values[name] += value / n
    values["op.wall_s"] = sum(walls) / n
    values["session.get_spark_s"] = statistics.median(get_spark_s)
    return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def abort(reason: str) -> None:
    """Exit non-zero without a result, stopping the driver JVM first."""
    from pyspark import SparkContext

    log(f"aborting: {reason}")
    if SparkContext._gateway is not None:
        SparkContext._gateway.proc.kill()
        SparkContext._gateway.proc.wait()
    os._exit(3)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    # a run that would outlive its time limit (a hung Spark job has been
    # seen once) ends without a result instead of being killed mid-way
    watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - PROCESS_START),
                               abort, ["run exceeded its deadline"])
    watchdog.daemon = True
    watchdog.start()
    os.environ.update(ENV)
    os.makedirs(ENV["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)
    import metrics
    import workloads
    from etl_geonames_spark.session import get_spark

    if args.workload not in workloads.NAMES:
        p.error(f"--workload must be one of {', '.join(workloads.NAMES)}")
    wl = workloads.make(args.workload, args.seed, STATE)

    t = time.perf_counter()
    wl.prepare()  # input generation: outside set-up and every timed window
    prepare_s = time.perf_counter() - t

    setups, get_spark_s, spark = [], [], None
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        t1 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s.append(time.perf_counter() - t1)
        wl.setup(spark)
        start = PROCESS_START + prepare_s if r == 0 else t0
        setups.append(time.perf_counter() - start)
    log(f"prepare {prepare_s:.2f} s, set-up rounds {[round(s, 2) for s in setups]}")

    # Untimed warm-up ops on the session the timed ops will use, so every
    # query's code is generated and compiled and the JVM has compiled the
    # hot paths.
    t = time.perf_counter()
    warm_walls, _, _, warm_passed = measure(wl, 0.0, wl.warm_ops)
    if warm_passed < len(warm_walls):
        raise RuntimeError("the warm-up ops failed their output checks")
    warm_s = time.perf_counter() - t

    # The traced loop runs in place of the untraced one, under the same
    # conditions; its overhead is read against the last untraced run of
    # the workload in this checkout.
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        wl.trace(tracer)
    walls, done, cpus, passed = measure(wl, args.seconds, wl.min_ops, tracer)
    e2e, context = metrics.summarize(walls, done, cpus, passed, setups, peak_rss_mb(spark))
    context.update(prepare_s=prepare_s, warm_up_s=warm_s)
    untraced_path = os.path.join(STATE, f"untraced-{args.workload}.json")
    if tracer is None:
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(untraced_path, "w") as f:
            json.dump({"seed": args.seed, "metrics": result_metrics}, f)
    else:
        tracer.uninstall()
        tracer.write(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.tsv"))
        result_metrics = per_layer(tracer, get_spark_s)
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                untraced = json.load(f)
            context["tracing_overhead"] = {
                "against_seed": untraced["seed"],
                **{k: e2e[k][0] - untraced["metrics"][k]["value"]
                   for k in ("op_geomean_s", "ops_per_s")},
            }

    agrees, extra = wl.finish()
    context.update(extra)
    stop_spark(spark)
    watchdog.cancel()
    print(json.dumps(context))
    print(json.dumps({"correct": passed == len(walls) and agrees, "attempted": len(walls),
                      "failed": len(walls) - passed, "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
