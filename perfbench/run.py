"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload boilerplate-multitier --seed 1 --seconds 1 --trace 0

Run from the repository root; the library is imported from the checkout the
script sits in. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones of a traced run, plus the ratio of
its wall time to an untraced pass (the tracing overhead). Everything else
goes to standard error. All files the run writes stay under
``.perfbench_work/`` in the checkout; the traced run leaves its spans and
per-layer rows in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from spans import StatusStore, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A driver heap that fits the host: a sixth of its RAM, 1-3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(3072, total_kb // 1024 // 6))


def start_session(work: str):
    from lasvdedup_spark.session import get_spark

    n = host_cores()
    heap = heap_mb()
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # makes the JVM's peak RSS swing by a quarter between identical runs.
    # No perf-data file either: it would be written outside the checkout.
    jvm_opts = (f"-Xms{heap}m -Xmn{heap // 4}m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # components and classify issue dozens of jobs per pass: keep
            # every job and stage of the run readable in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def measure(wl, spark, seconds: float) -> dict:
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(wl.run_pass(spark))
        log(f"pass {len(passes)}: {passes[-1]}")
    med = statistics.median
    wall = med(p["wall_s"] for p in passes)
    return {
        "docs_per_s": metric(wl.n_pages / wall, "docs/s"),
        "microbatch_p50_s": metric(med(b for p in passes for b in p["batch_s"]), "s"),
        "resume_s": metric(med(p["resume_s"] for p in passes), "s"),
        "shuffle_bytes": metric(wl.shuffle_bytes, "bytes"),
        "peak_rss_mb": metric(jvm_peak_rss_mb(spark), "MiB"),
    }


def trace(wl, spark, seconds: float, args) -> dict:
    """Pairs of (untraced pass, traced pass) for ``seconds``; per-layer
    medians plus traced/untraced wall time."""
    tracer = Tracer(spark)
    plain, traced = [], []
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        plain.append(wl.plain_pass(spark))
        traced.append(wl.traced_pass(spark, tracer))
        log(f"untraced {plain[-1]:.3f}s traced {traced[-1]:.3f}s")
    metrics = tracer.metrics()
    ratio = statistics.median(traced) / statistics.median(plain)
    metrics["trace.wall_ratio"] = metric(ratio, "ratio")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                       "untraced_wall_s": plain, "traced_wall_s": traced})
    log(f"trace written to {path}")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "lasvdedup_spark")):
        log(f"no lasvdedup_spark package next to the benchmark in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's local dirs for shuffle and spill; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](work, args.seed)

    spark = None
    try:
        # set-up: session start, input generation and the untimed run
        t0 = time.perf_counter()
        spark = start_session(work)
        wl.make_inputs()
        wl.warmup(spark, StatusStore(spark))
        setup_s = time.perf_counter() - t0
        log(f"set-up: {setup_s:.3f}s")
        if args.trace:
            metrics = trace(wl, spark, args.seconds, args)
        else:
            metrics = measure(wl, spark, args.seconds)
            g = wl.gates
            metrics["setup_s"] = metric(setup_s, "s")
            metrics["dup_recall"] = metric(min(g.recalls), "ratio")
            metrics["gate_pass_frac"] = metric((g.attempted - g.failed) / g.attempted, "ratio")
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t_start:.1f}s")
    for e in wl.gates.errors:
        log(f"correctness gate failed: {e}")
    print(json.dumps({
        "correct": wl.gates.failed == 0,
        "attempted": wl.gates.attempted,
        "failed": wl.gates.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
