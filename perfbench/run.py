#!/usr/bin/env python3
"""Outside-in benchmark for the al_drift_detection_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed (once per seed and size, under .perfbench/inputs), starts one Spark
session, runs untimed warm-up passes, then timed passes for S seconds,
checks the outputs apart from the engine (checks.py) and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


def _process_start() -> float:
    """time.monotonic() value at which this process started (Linux)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROC = _process_start()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from workloads import IMAGES, MIX_QUERIES, MIX_SCALE, WORKLOADS  # noqa: E402

# untimed warm-up passes per workload: a fresh JVM's first pass runs 2-3x
# slower than a steady one. batch_validate's second pass is still ~8 %
# slower than its third, but the median of passes 2 and 3 spread less over
# ten runs than pass 3 alone or passes 3 and 4 (README: "Passes per run")
WARMUP_PASSES = {"batch_validate": 1, "stream_closed": 1, "operator_mix": 1}
MIN_TIMED_PASSES = {"batch_validate": 2, "stream_closed": 1, "operator_mix": 3}

# per-layer metrics reported by --trace 1 (0 where a workload never enters
# the layer); spark.persistent_rdds_after and trace.* are added at the end.
# pass.self_s is pass time no wrapped layer covers.
PER_LAYER = {
    "suite.run_s": "s", "suite.violations_s": "s", "stats.write_s": "s",
    "drift.reference_s": "s", "drift.scores_s": "s", "checkpoint.record_s": "s",
    "suite.verdict_rows": "count", "suite.violation_rows": "count",
    "drift.score_rows": "count",
    "decode.checks_s": "s", "decode.violation_rows": "count", "decode.blob_mb": "MB",
    "streaming.stage_s": "s", "streaming.references_s": "s", "streaming.query_s": "s",
    "streaming.triggers": "count", "streaming.empty_triggers": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_mb": "MB", "state.rows_dropped_by_watermark": "count",
    "streaming.input_rows": "count", "sink.mb": "MB",
    "pass.self_s": "s", "spark.jobs": "count", "spark.tasks": "count",
}
# operator_mix is not in BENCHMARK.json (README: "Dropped"); its traced run
# adds one per-query metric
MIX_LAYER = {f"operators.{q}_s": "s" for q in MIX_QUERIES}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def configure_environment() -> int:
    """Size Spark to this host through the engine's deployment variables."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return cpus


def cpu_ticks() -> list[int]:
    """Aggregate CPU counters of the host (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(since: list[int]) -> float:
    """Percent of the host's CPU time stolen by the hypervisor since `since`."""
    delta = [b - a for a, b in zip(since, cpu_ticks())]
    return 100.0 * delta[7] / max(1, sum(delta))


def jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "al_drift_detection_spark", "__init__.py")):
        fail(f"the engine package al_drift_detection_spark is not under {ROOT}", 3)
    sys.path.insert(0, ROOT)
    cpus = configure_environment()

    t_gen = time.monotonic()
    if args.workload == "operator_mix":
        data, manifest = inputs.ensure("tables", os.path.join(WORK, "inputs"), args.seed,
                                       scale=MIX_SCALE)
    else:
        data, manifest = inputs.ensure("images", os.path.join(WORK, "inputs"), args.seed,
                                       **IMAGES)
    gen_s = time.monotonic() - t_gen

    from al_drift_detection_spark.session import get_spark
    from spans import ProgressListener, Tracer, job_counts

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = Tracer()
    listener = ProgressListener()
    wl = WORKLOADS[args.workload](spark, data, manifest, WORK, tracer)

    attempted = failed = 0
    n_pass = 0

    def one_pass(traced: bool) -> float | None:
        nonlocal attempted, failed, n_pass
        wl.reset()
        n_pass += 1
        tracer.pass_id = n_pass
        if traced:
            tracer.install()
            spark.streams.addListener(listener)
        listener.reset()
        sc.setJobGroup(f"perfbench-{n_pass}", f"perfbench pass {n_pass}")
        attempted += wl.ops_per_pass
        t0 = time.perf_counter()
        try:
            with tracer.span("pass.self"):
                wl.run_pass()
        except Exception as ex:  # a failed pass is counted, the run goes on
            failed += wl.ops_per_pass
            print(f"perfbench: pass {n_pass} failed: {ex!r}\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        finally:
            dt = time.perf_counter() - t0
            if traced:
                listener.wait_terminated()
                spark.streams.removeListener(listener)
                tracer.uninstall()
        return dt

    for _ in range(WARMUP_PASSES[args.workload]):
        dt = one_pass(False)
        print(f"perfbench: warm-up pass {n_pass} {dt} s", file=sys.stderr)
    setup_s = time.monotonic() - T_PROC - gen_s
    attempted = failed = 0

    # timed passes; a traced run alternates traced and untraced passes so
    # the tracing overhead is measured inside one process
    times: list[float] = []
    traced_times: list[float] = []
    layers: list[dict] = []
    t_end = time.monotonic() + args.seconds
    ticks0 = cpu_ticks()
    n_timed = 0
    min_passes = max(2 if args.trace else 1, MIN_TIMED_PASSES[args.workload])
    while n_timed < min_passes or time.monotonic() < t_end:
        traced = bool(args.trace) and n_timed % 2 == 0
        n_timed += 1
        pass_ticks = cpu_ticks()
        dt = one_pass(traced)
        if dt is None:
            continue
        print(f"perfbench: pass {n_pass} {'traced ' if traced else ''}{dt:.3f} s, "
              f"steal {steal_share(pass_ticks):.1f} %", file=sys.stderr)
        if not traced:
            times.append(dt)
            continue
        traced_times.append(dt)
        row = {f"{k}_s": v for k, v in tracer.self_times(n_pass).items()}
        row.update(listener.summary())
        jobs, tasks = job_counts(sc, [f"perfbench-{n_pass}"] + listener.run_ids)
        row.update({"spark.jobs": float(jobs), "spark.tasks": float(tasks)})
        row.update(checks.layer_counts(wl))
        layers.append(row)

    steal_pct = steal_share(ticks0)
    print(f"perfbench: CPU steal during the timed passes {steal_pct:.1f} %", file=sys.stderr)
    if not times or (args.trace and not traced_times):
        spark.stop()
        fail("no timed pass succeeded", 1)
    problems = checks.check(wl, layers)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    if args.trace:
        metrics = {name: {"value": statistics.median(r.get(name, 0.0) for r in layers),
                          "unit": unit}
                   for name, unit in {**PER_LAYER, **(
                       MIX_LAYER if args.workload == "operator_mix" else {})}.items()}
        spark.catalog.clearCache()
        metrics["spark.persistent_rdds_after"] = {
            "value": float(len(sc._jsc.getPersistentRDDs())), "unit": "count"}
        metrics["host.steal_pct"] = {"value": steal_pct, "unit": "%"}
        metrics["jvm.peak_rss_mb"] = {"value": jvm_peak_rss_mb(sc), "unit": "MB"}
        metrics["trace.pass_s"] = {"value": statistics.median(traced_times), "unit": "s"}
        metrics["trace.overhead_s"] = {
            "value": statistics.median(traced_times) - statistics.median(times), "unit": "s"}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                       "spans": tracer.dump()}, fh)
    else:
        pass_s = statistics.median(times)
        metrics = {
            "rows_per_s": {"value": wl.input_rows / pass_s, "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    spark.stop()
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
