"""Seeded ingest / serve / curate benchmark of the etl_healthcare_spark engine.

    python3 perfbench/run.py --workload ingest|serve|curate|all --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one SparkSession on local[N]
(N = min(2, cpus)), one closed-loop client.  Inputs come from the seed; all
generated files and stores live under .perfbench_work/ in the checkout and
are removed when the run ends.  Spans of traced runs are kept in
.perfbench_traces/.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.  With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 the per-layer ones.  The line before it
reports the workload's own figures (rows/s, query p50/p95 with sample counts,
micro-batch latency, docs/s) by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench_work"
TRACES = ROOT / ".perfbench_traces"
UNITS = {"setup_s": "s", "cpu_ms_per_item": "ms", "op_cpu_ms": "ms", "jvm_peak_rss_mb": "MB"}


def spark_session(work: Path):
    """Everything the JVM and Python workers write goes under ``work``."""
    from pyspark.sql import SparkSession

    # two task slots: the inputs are small, and on a 4-vCPU VM of a shared host four
    # busy slots drew ~3x the hypervisor steal of two (19 % vs 6-10 % of CPU
    # time) and made every wall-clock figure slower and noisier
    cpus = min(2, os.cpu_count() or 1)
    return (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cpus}]")
        # a fixed, pre-touched heap: peak RSS then moves with the program's
        # own footprint, not with when the collector chose to grow the heap
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", "-Xms1g -XX:+AlwaysPreTouch")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_jvm(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_workload(w, seconds: float, traced: bool) -> dict:
    """Set up, warm up, measure.  A traced run measures untraced and traced
    steps, so the difference is the tracing overhead, then sweeps the layers."""
    log(f"{w.name}: set-up")
    w.setup()
    log(f"{w.name}: warm-up (set-up wall s " + " ".join(f"{x:.2f}" for x in w.setup_wall)
        + ", CPU s " + " ".join(f"{x:.2f}" for x in w.setup_cpu) + ")")
    w.warmup()
    log(f"{w.name}: measure")
    if not traced:
        st0, tot0 = cpu_ticks()
        w.run(seconds)
        st1, tot1 = cpu_ticks()
        log(f"{w.name}: hypervisor steal {(st1 - st0) / max(1, tot1 - tot0):.1%} of CPU time while measuring")
        log(f"{w.name}: op wall s " + " ".join(f"{x:.3f}" for x in w.op_wall))
        log(f"{w.name}: op CPU s " + " ".join(f"{x:.3f}" for x in w.op_cpu))
        setup_s = statistics.median(w.setup_cpu)
        report = {"setup_s": (setup_s, "s"), "setup_wall_s": (statistics.median(w.setup_wall), "s"), **w.report()}
        return {"setup_s": setup_s, **w.metrics(), "report": report}
    # untraced and traced steps alternate, so machine drift hits both sides
    w.reset()
    cpu = {False: [], True: []}
    t_end = time.perf_counter() + seconds
    while True:
        for on in (False, True):
            w.tr.enabled = on
            n = len(w.op_cpu)
            w.step()
            cpu[on] += w.op_cpu[n:]
        if time.perf_counter() >= t_end:
            break
    m = {"trace.overhead_ms": (1000 * (statistics.mean(cpu[True]) - statistics.mean(cpu[False])), "ms")}
    log(f"{w.name}: layer sweep")
    m.update(w.sweep())
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "curate", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    import etl_healthcare_spark  # noqa: F401  -- fail before any set-up without the program

    for old in WORK.glob("*-*-*"):  # leftovers of killed runs; live runs keep theirs
        if not Path(f"/proc/{old.name.rsplit('-', 1)[1]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no hsperfdata files in /tmp, JVM temp files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"

    from spans import Tracer
    from checks import Checks
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    log("session start")
    spark = spark_session(work)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer, checks = Tracer(spark, bool(args.trace)), Checks()
        results = {}
        for name in names:
            w = WORKLOADS[name](spark, str(work / name), args.seed, tracer, checks)
            results[name] = run_workload(w, args.seconds, bool(args.trace))
        rss = jvm_peak_rss_mb(spark)
        if args.trace:
            TRACES.mkdir(exist_ok=True)
            tracer.write(TRACES / f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl")
        log("done")
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_ratio = checks.failed / max(1, checks.attempted)
    for reason in checks.reasons:
        print("FAILED:", reason, file=sys.stderr)
    report = {"workload": args.workload, "seed": args.seed, "attempted": checks.attempted,
              "failed_ratio": {"value": failed_ratio, "unit": "ratio"},
              "jvm_peak_rss_mb": {"value": rss, "unit": "MB"}}
    if args.workload == "all":  # every workload's own figures, by workload
        metrics = {f"{n}.{k}": {"value": v, "unit": u}
                   for n, r in results.items() for k, (v, u) in (r if args.trace else r["report"]).items()}
        metrics.update({k: report[k] for k in ("failed_ratio", "jvm_peak_rss_mb")})
    elif args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in results[args.workload].items()}
    else:
        r = results[args.workload]
        report.update({k: {"value": v, "unit": u} for k, (v, u) in r["report"].items()})
        r["jvm_peak_rss_mb"] = rss
        metrics = {k: {"value": r[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
