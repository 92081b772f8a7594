"""rottnest_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 24 --trace 0

Run from the repository root. The last line of standard output is a JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full report
(every metric, failures by operation, tail percentiles, the per-layer table)
goes to ``.perfbench_out/``; scratch tables go to ``.perfbench_work/`` and are
deleted at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # heap pinned: -Xms equals spark.driver.memory (-Xmx)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-drop-row", action="store_true",
                   help="self-test: make every search drop one result row")
    return p.parse_args(argv)


class Bench:
    """Run context: Spark, tracer, scratch dir and the operation log."""

    def __init__(self, spark, tracer, work: str, seed: int, rss):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rss = rss
        self.ops: list[dict] = []
        self.phase = "warmup"

    def op(self, kind: str, fn, check=None, **meta):
        """Run one operation, timed; check its result afterwards, untimed.
        An exception or a failed check marks the operation failed."""
        op_id = f"op{len(self.ops)}-{kind}"
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, f"{self.phase}:{kind}")
            self.tracer.begin_op(op_id)
        rec = {"id": op_id, "kind": kind, "phase": self.phase, **meta}
        rec["wall_start"] = time.time()
        t0 = time.perf_counter()
        result, reason = None, None
        try:
            with self.tracer.span(f"op.{kind}"):
                result = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            reason = "raised: " + traceback.format_exc(limit=3)
        rec["s"] = time.perf_counter() - t0
        rec["wall_end"] = time.time()
        if reason is None and check is not None:
            reason = check(result)
        if isinstance(result, dict):
            rec.update({k: v for k, v in result.items() if k != "rows"})
            rec["result_rows"] = len(result.get("rows", []))
        rec["ok"] = reason is None
        rec["reason"] = reason
        if self.tracer.enabled:
            self.tracer.begin_op(None)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.rss.sample()
        self.ops.append(rec)
        return result


def configure_env(work: str, trace: bool) -> None:
    """JVM and Spark settings that must exist before the JVM starts."""
    local = os.path.join(ROOT, ".perfbench_work", "spark-local")
    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:+UseG1GC "
        "-XX:MaxGCPauseMillis=100"
    )
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def calibrate(spark) -> float:
    """Host speed from a fixed JVM-only job, median of three (ms)."""
    out = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
        out.append((time.perf_counter() - t0) * 1000)
    return statistics.median(out)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the share of time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def gc_ms(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (which takes its Python workers
    with it) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def inject_drop_row() -> None:
    """Self-test hook: every ParquetLake.search result loses one row."""
    from rottnest_spark.core.lake import ParquetLake

    orig = ParquetLake.search

    def search(self, *a, **kw):
        df = orig(self, *a, **kw)
        return df.exceptAll(df.limit(1))

    ParquetLake.search = search


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rottnest_spark")):
        print(f"no rottnest_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench.* and rottnest_spark from the root
    from perfbench import report
    from perfbench.trace import NullTracer, Tracer, install
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work, bool(args.trace))

    from rottnest_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        install(tracer)
    if args.inject_drop_row:
        inject_drop_row()
    rss = report.PeakRss()
    bench = Bench(spark, tracer, work, args.seed, rss)
    wl = WORKLOADS[args.workload](bench)
    try:
        wl.setup()
        cal_start = calibrate(spark)
        gc0, cpu0 = gc_ms(spark), cpu_ticks()
        wl.window(args.seconds)
        gc_window, cpu1 = gc_ms(spark) - gc0, cpu_ticks()
        steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
        wl.epilogue()
        storage = wl.storage()
        cal_end = calibrate(spark)
        rss.sample()
        peak_rss_mb = rss.mb
        if args.trace:
            wl.traced_epilogue()
    finally:
        stop_spark(spark)
    result = report.summarize(
        wl, bench, storage,
        {"calibration_start_ms": cal_start, "calibration_end_ms": cal_end,
         "gc_window_ms": gc_window, "peak_rss_mb": peak_rss_mb,
         "steal_pct": steal_pct, "cpus": cpus,
         "seconds": args.seconds, "seed": args.seed,
         "workload": args.workload, "trace": args.trace},
    )
    if args.trace:
        from perfbench.trace import read_event_log

        jobs = read_event_log(os.path.join(work, "eventlog"))
        result["layers"] = report.layer_table(
            bench, wl, tracer, jobs, storage, result["env"]
        )
        tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    report.print_summary(result, sys.stderr)
    metrics = (
        result["layers"]["declared"] if args.trace else result["end_to_end"]
    )
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
