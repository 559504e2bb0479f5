"""Benchmark entry point.

    python3 perfbench/run.py --workload meta_inspect --seed 1 --seconds 20 --trace 0

Runs one workload (see ``perfbench/README.md``) from the root of a
checkout, on ``local[4]`` with one closed-loop client, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (and the tracing overhead) with ``--trace 1``. Exits non-zero when
a correctness check fails or the package cannot be imported. Everything it
writes stays under ``perfbench/work`` (removed at exit) and
``perfbench/out`` (the span dump of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4

# Single-core canary on the machine the bounds were set on (4-core x86-64
# container, Python 3.11); a run whose canary or load average is well above
# it is flagged, never rescaled.
CANARY_REFERENCE_S = 0.085
CANARY_FLAG_RATIO = 1.5
LOAD_FLAG = float(CPUS)
STEAL_FLAG_PCT = 5.0   # hypervisor steal over the run, as a share of all CPU time

END_TO_END = {
    "setup_s": "s", "memory_mb": "MB", "op_typical_s": "s", "heavy_p50_s": "s",
}


def canary_s() -> float:
    """Best of three timings of a fixed pure-Python loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def regime() -> dict:
    load1 = os.getloadavg()[0]
    canary = canary_s()
    reasons = []
    if canary > CANARY_FLAG_RATIO * CANARY_REFERENCE_S:
        reasons.append(f"canary {canary:.3f}s > {CANARY_FLAG_RATIO}x reference")
    if load1 > LOAD_FLAG:
        reasons.append(f"loadavg1 {load1:.2f} > {LOAD_FLAG}")
    return {"loadavg1": round(load1, 2), "canary_s": round(canary, 4),
            "canary_reference_s": CANARY_REFERENCE_S, "flagged": reasons}


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The machine's memory is shared, so the driver heap is capped at 1 GB
    # instead of the session's 8 GB default; the workloads need far less.
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")


def start_session():
    from iceberg_meta_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def memory_mb(spark) -> tuple[float, float, float]:
    """High-water RSS (MB) of this Python process and of the Spark JVM, and
    the memory (MB) the JVM holds after a full collection: heap in use plus
    non-heap in use (classes, compiled code)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    held = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return py_kb / 1024.0, jvm_kb / 1024.0, held / 2.0**20


def split_latency(result: dict, traced: bool) -> dict:
    from workloads import latency_metrics

    samples = [s for s in result["client"].samples if s.traced == traced]
    heavy = [sec for sec, t in result["heavy"] if t == traced]
    return latency_metrics(samples, heavy)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iceberg_meta_spark")):
        print(f"perfbench: no iceberg_meta_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402  (needs numpy; imports nothing from the package)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    stamp = regime()  # before any Spark work
    steal0, total0 = cpu_ticks()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0

        import tracing

        tracer = tracing.Tracer(spark)
        undo = tracing.install(tracer) if args.trace else []
        result = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, args.seconds, bool(args.trace), work)
        tracing.uninstall(undo)
        client = result["client"]
        setup = session_s + result["setup_parts"]["generate_s"] + result["setup_parts"]["warm_s"]
        rss_py, rss_jvm, jvm_held = memory_mb(spark)
        steal1, total1 = cpu_ticks()

        if args.trace:
            tracer.resolve_jobs()
            measured = {"session.start_s": session_s,
                        "maint.stored_bytes_per_user_byte": result["stored_ratio"] or 0.0}
            metrics = tracing.layer_metrics(tracer, measured)
            on, off = split_latency(result, True), split_latency(result, False)
            for name in tracing.OVERHEAD_OF:
                metrics[f"trace.overhead.{name}"] = on[name] - off[name]
            units = tracing.per_layer_units()
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {"setup_s": setup, "memory_mb": rss_py + jvm_held,
                       **split_latency(result, False)}
            units = END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    samples = client.samples
    kinds: dict[str, list[float]] = {}
    for s in samples:
        kinds.setdefault(s.kind, []).append(s.seconds)
    report = {
        "workload": args.workload, "seed": args.seed, "regime": stamp,
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2),
        "session_start_s": round(session_s, 3),
        "rss_mb": {"python": round(rss_py), "jvm": round(rss_jvm)},
        "jvm_held_mb": round(jvm_held),
        "setup_parts": {k: round(v, 3) for k, v in result["setup_parts"].items()},
        "ops": len(samples),
        "failed_ratio": client.failed / max(1, client.attempted),
        "stored_bytes_per_user_byte": result["stored_ratio"],
        "p50_by_kind_s": {k: round(statistics.median(v), 4) for k, v in sorted(kinds.items())},
        "n_by_kind": {k: len(v) for k, v in sorted(kinds.items())},
    }
    if report["steal_pct"] > STEAL_FLAG_PCT:
        stamp["flagged"].append(f"steal {report['steal_pct']}% > {STEAL_FLAG_PCT}%")
    print("report " + json.dumps(report))
    if stamp["flagged"]:
        print("regime flagged: " + "; ".join(stamp["flagged"]), file=sys.stderr)
    correct = client.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
