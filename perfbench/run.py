#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload suite-plain --seed 1 --seconds 8 --trace 0

Run from the repository root.  One process, one workload, one client in a
closed loop on ``local[4]``.  The run:

1. starts the SparkSession and imports the engine (timed, part of setup_s);
2. makes or reuses the seed's inputs and computes their expected results
   with DuckDB (not timed);
3. registers the inputs and compiles the spec or schema several times
   (median, part of setup_s);
4. runs three warm-up operations, then timed operations for
   ``--seconds``, checking every result;
5. with ``--trace 1`` also forces each engine layer on its own and reports
   the per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it records the environment.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

NPROC = 4
# Heap and young generation have fixed sizes but are not pre-touched, so the
# JVM's peak RSS is the young generation plus the old-generation and
# non-heap memory the engine has touched.  Left to grow, the collector's own
# sizing choices moved the peak RSS by up to a third between identical runs.
HEAP = "2g"
YOUNG = "512m"
SETUP_REPS = 3
# Operations run and discarded before timing.  In a fresh JVM the first pass
# is about three times the settled one and the next two are still 10-30%
# slower (JIT compilation of the planner and the generated stage code);
# later passes gain a few percent more, which the time budget of a run does
# not leave room to wait for.
WARMUP_OPS = 3


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse", "duckdb"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")


def _session():
    from pyspark.sql import SparkSession

    from perfbench import inputs

    tmp = os.path.join(CACHE, "tmp")
    # -UsePerfData: no hsperfdata file outside the checkout.  A fixed set of
    # JIT compiler threads lets probe.cpu_seconds leave their CPU out.
    spark = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG} "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        )
        .config("spark.sql.shuffle.partitions", str(inputs.PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timed_op(wl, probe) -> tuple:
    """One operation: ``(wall_s, unstolen_s, cpu_s, turns, ok)``; an
    exception is a failed operation.  ``unstolen_s`` is the wall time less
    the share the hypervisor stole of the CPU time the VM wanted meanwhile
    (``probe.stolen_share``): the wall time on a host that steals nothing."""
    from perfbench.probe import cpu_times, stolen_share

    host0, t0, c0 = cpu_times(), time.perf_counter(), probe.cpu_seconds()
    try:
        turns, ok = wl.op()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        turns, ok = 0, False
    wall, cpu = time.perf_counter() - t0, probe.cpu_seconds() - c0
    unstolen = wall * (1 - stolen_share(host0, cpu_times()))
    return wall, unstolen, cpu, turns, ok


def run(args) -> dict:
    spark = _session()
    try:
        return _measure(args, spark)
    finally:
        _stop(spark)


def _measure(args, spark) -> dict:
    from perfbench import inputs, probe as P
    from perfbench.workloads import WORKLOADS

    import sissaschool_xmlschema_spark  # noqa: F401  (import is part of setup)

    ready = time.perf_counter() - _T0
    bench = _bench()
    wl = WORKLOADS[args.workload](spark, args.seed, args.scale)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    setup_t = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_t.append(time.perf_counter() - t0)
    setup_s = ready + statistics.median(setup_t)

    probe = P.Probe(spark)
    attempted = failed = 0
    warm: list = []
    for _ in range(WARMUP_OPS):
        wall, _, _, _, ok = _timed_op(wl, probe)
        warm.append(wall)
        attempted += 1
        failed += not ok

    gc0, host0 = probe.gc_seconds(), P.cpu_times()
    ops = []  # (wall_s, unstolen_s, cpu_s, turns) per timed operation
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(ops) < 3:
        *op, ok = _timed_op(wl, probe)
        ops.append(op)
        attempted += 1
        failed += not ok
    host1, gc1 = P.cpu_times(), probe.gc_seconds()
    walls = [op[0] for op in ops]

    def rate(k: int) -> float:
        return statistics.median(op[3] / op[k] for op in ops)

    metrics = {
        "turns_per_unstolen_s": rate(1),
        "turns_per_cpu_s": rate(2),
        "setup_s": setup_s,
        "jvm_peak_rss_mb": probe.jvm_peak_rss_mb(),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "nproc": NPROC,
        "host_nproc": os.cpu_count(),
        "heap": HEAP,
        "young": YOUNG,
        "partitions": inputs.PARTITIONS,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "host_steal_pct": P.steal_pct(host0, host1),
        "gc_s": gc1 - gc0,
        "turns_per_s": rate(0),
        "op_p50_s": statistics.median(walls),
        "op_quartiles_s": statistics.quantiles(walls, n=4),
        "op_s": walls,
        "op_unstolen_s": [op[1] for op in ops],
        "op_cpu_s": [op[2] for op in ops],
        "samples": len(ops),
        "warmup_s": warm,
        "setup_reps_s": setup_t,
        "session_ready_s": ready,
        "prepare_s": prepare_s,
        **wl.record(),
    }

    if args.trace:
        host0, gc0 = P.cpu_times(), probe.gc_seconds()
        with probe.span("traced-op") as s:
            *_, ok = _timed_op(wl, probe)
        layers = {m["name"]: 0 for m in bench["per_layer"]}
        try:
            traced, layers_ok = wl.trace(probe)
            layers.update(traced)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            layers_ok = False
        attempted += 2
        failed += (not ok) + (not layers_ok)
        layers["trace.overhead_ratio"] = s.seconds / record["op_p50_s"]
        layers["warmup.first_pass_s"] = warm[0]
        layers["jvm.gc_s"] = probe.gc_seconds() - gc0
        layers["host.steal_pct"] = P.steal_pct(host0, P.cpu_times())
        record["spans"] = [vars(sp) for sp in probe.spans]
        metrics = layers

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(json.dumps(record, sort_keys=True))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    return ap.parse_args(argv)


if __name__ == "__main__":
    args = _parse(sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "sissaschool_xmlschema_spark")):
        print("perfbench: engine package not found next to perfbench/",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        sys.exit(2)
    _isolate_scratch()
    result = run(args)
    print(json.dumps(result))
