#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one fresh JVM.

    python3 etlbench/run.py --workload insurance_etl --seed 1 --seconds 10 --trace 0

A run (1) times set-up: importing the package and ``get_session()``
in a fresh JVM on ``local[<cores>]``; (2) generates the seeded inputs
and their references; (3) times the first full-size pass (cold);
(4) times ``TIMED_PASSES`` further passes (a fixed count: the same
pass indices in every run, whatever ``--seconds`` says); (5) checks
every pass's output against its reference, outside the timed region.
A pass that raises or returns wrong output is a failed pass; the run
still reports the passes that finished, and exits non-zero only if no
cold or no timed pass did. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). A ``diagnostics`` line before it shows the warm-up
curve and the first-half/second-half medians of the timed passes.

Every file the run writes (inputs, Spark's local dir, warehouse,
derby home, JVM and Python temp files) lives under
``etlbench/_work/`` and is removed at the end; traced runs also leave
their spans in ``etlbench/_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_p50_s": "s",
    "pass_tail_s": "s",
    "rows_per_s": "1/s",
    "ok_frac": "ratio",
    "heap_live_mb": "MB",
    "bytes_written_per_input_byte": "ratio",
}
TAIL_PERCENTILE = 75
# Timed passes per run, after the cold pass: fixed, so every run times
# passes 2-3 whatever --seconds says; more do not fit the run budget.
TIMED_PASSES = 2
SPAN_COUNTERS = ["wall_s", "self_s", "task_cpu_s", "util", "shuffle_write_bytes",
                 "spill_bytes", "jobs"]
BYTES_COUNTERS = ["input_bytes", "output_bytes"]
WORKLOAD_COUNTERS = ["gc_s", "failed_tasks", "trace.overhead_s",
                     "streaming.batches", "streaming.state_rows"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the harness; each workload times a fixed pass count")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is the smoke test's")
    return p.parse_args(argv)


def all_spans(workloads) -> list[str]:
    names = ["session.start"]
    for w in workloads.values():
        names += [s for s in w.spans if s not in names]
    return names


def layer_metric_names(workloads) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in a fixed order."""
    units = {"wall_s": "s", "self_s": "s", "task_cpu_s": "s", "util": "ratio",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "jobs": "count",
             "input_bytes": "bytes", "output_bytes": "bytes", "gc_s": "s",
             "failed_tasks": "count", "trace.overhead_s": "s",
             "streaming.batches": "count", "streaming.state_rows": "count"}
    out = []
    for span in all_spans(workloads):
        counters = list(SPAN_COUNTERS)
        if span.startswith("sources."):
            counters += BYTES_COUNTERS
        out += [(f"{span}.{c}", units[c]) for c in counters]
    out += [(c, units[c]) for c in WORKLOAD_COUNTERS]
    return out


def configure_process(work: str) -> dict[str, str]:
    """Point every scratch location at the work dir, make the package
    importable by Spark's Python workers, and return the Spark conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    java_opts = " ".join([
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-XX:-UsePerfData",  # no hsperfdata file outside the work dir
    ])
    return {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.sql.streaming.checkpointLocation": f"{work}/checkpoints",
        # bounded status/SQL stores: the live heap stops growing after
        # the first passes instead of with the number of passes run
        "spark.ui.retainedJobs": "500",
        "spark.ui.retainedStages": "1000",
        "spark.ui.retainedTasks": "20000",
        "spark.sql.ui.retainedExecutions": "50",
        "spark.sql.streaming.ui.retainedQueries": "20",
    }


def jvm_gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def jvm_live_heap_mb(spark) -> float:
    """Driver heap in use after full GCs, read until three readings in
    a row agree within 1 MB. Each GC lets Spark's context cleaner drop
    the blocks and broadcasts the previous GC found unreachable, so the
    first readings still hold some of them."""
    jvm = spark.sparkContext._jvm
    gc.collect()  # drop Python proxies so their JVM objects are collectable
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(12):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.3)
    return min(readings[-3:])


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def percentile(values: list[float], p: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Run:
    """One workload run; holds the per-pass records."""

    def __init__(self, workload, spark, rec):
        self.w = workload
        self.spark = spark
        self.rec = rec
        self.passes: list[dict] = []

    def one_pass(self, phase: str, traced: bool) -> None:
        index = len(self.passes)
        record = {"phase": phase, "index": index, "traced": traced, "ok": False,
                  "time_s": None, "written": 0.0, "errors": []}
        self.passes.append(record)
        self.rec.enabled = traced
        t0 = time.perf_counter()
        try:
            with self.rec.pass_span(index):
                out = self.w.run_pass(self.spark, self.rec, index)
            record["time_s"] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
            record["errors"].append(traceback.format_exc(limit=3))
            return
        self.rec.harvest()
        spans = [s for s in self.rec.spans if s.pass_index == index]
        record["written"] = sum(s.counters["output_bytes"] for s in spans)
        record["failed_tasks"] = sum(s.counters["failed_tasks"] for s in spans)
        record["stream"] = (out.get("batches", 0), out.get("state_rows", 0))
        try:
            record["errors"] += self.w.check(self.spark, out)
        except Exception:  # noqa: BLE001 - a check that crashes fails the pass
            record["errors"].append(traceback.format_exc(limit=3))
        record["ok"] = not record["errors"]

    def timed(self, phase: str) -> list[dict]:
        return [p for p in self.passes if p["phase"] == phase and p["time_s"] is not None]


def end_to_end(run: Run, setup_s: float, heap_mb: float) -> dict[str, float]:
    timed = run.timed("timed")
    times = [p["time_s"] for p in timed]
    cold = run.timed("cold")
    attempted = len(run.passes)
    return {
        "setup_s": setup_s,
        "cold_pass_s": cold[0]["time_s"],
        "pass_p50_s": statistics.median(times),
        "pass_tail_s": percentile(times, TAIL_PERCENTILE) if len(times) > 1 else times[0],
        "rows_per_s": run.w.rows * len(times) / sum(times),
        "ok_frac": sum(p["ok"] for p in run.passes) / attempted,
        "heap_live_mb": heap_mb,
        "bytes_written_per_input_byte": statistics.median(
            p["written"] for p in timed) / run.w.bytes,
    }


def per_layer(run: Run, setup_s: float, gc_s: float, cores: int, workloads) -> dict:
    from tracer import self_times

    rec = run.rec
    traced = {p["index"] for p in run.timed("timed") if p["traced"]}
    selfs = self_times(rec.spans)
    per_pass: dict[str, dict[int, dict[str, float]]] = {}
    for s in rec.spans:
        if s.pass_index not in traced or s.name == "pass":
            continue
        acc = per_pass.setdefault(s.name, {}).setdefault(s.pass_index, {})
        vals = {
            "wall_s": s.wall_s,
            "self_s": selfs[s.span_id],
            "task_cpu_s": s.counters["task_cpu_s"],
            "task_run_s": s.counters["task_run_s"],
            "shuffle_write_bytes": s.counters["shuffle_write_bytes"],
            "spill_bytes": s.counters["memory_spill_bytes"] + s.counters["disk_spill_bytes"],
            "jobs": s.counters["jobs"],
            "input_bytes": s.counters["input_bytes"],
            "output_bytes": s.counters["output_bytes"],
        }
        for k, v in vals.items():
            acc[k] = acc.get(k, 0.0) + v
    metrics: dict[str, float] = {}
    for name, _unit in layer_metric_names(workloads):
        span, _, counter = name.rpartition(".")
        if span == "session.start":
            metrics[name] = setup_s if counter in ("wall_s", "self_s") else 0.0
        elif span in per_pass:
            passes = list(per_pass[span].values())
            if counter == "util":
                vals = [v["task_run_s"] / (v["wall_s"] * cores) for v in passes]
            else:
                vals = [v[counter] for v in passes]
            metrics[name] = statistics.median(vals)
        else:
            metrics[name] = 0.0
    streams = [p["stream"] for p in run.timed("timed") if p["traced"]]
    metrics.update({
        "gc_s": gc_s,
        "failed_tasks": float(sum(p.get("failed_tasks", 0) for p in run.passes)),
        "trace.overhead_s": statistics.median(rec.overhead_s.get(i, 0.0) for i in traced),
        "streaming.batches": statistics.median(s[0] for s in streams),
        "streaming.state_rows": statistics.median(s[1] for s in streams),
    })
    return metrics


def diagnostics(run: Run) -> dict:
    timed = [p["time_s"] for p in run.timed("timed")]
    half = len(timed) // 2
    out = {
        # the warm-up curve: every pass in order, cold pass first
        "pass_curve_s": [round(p["time_s"], 4) for p in run.passes if p["time_s"]],
        "timed_passes": len(timed),
        "tail_percentile": TAIL_PERCENTILE,
        "passes_above_tail": sum(t > percentile(timed, TAIL_PERCENTILE) for t in timed)
        if len(timed) > 1 else None,
        "first_half_p50_s": statistics.median(timed[:half]) if half else None,
        "second_half_p50_s": statistics.median(timed[half:]) if half else None,
        "errors": [e for p in run.passes for e in p["errors"]][:5],
    }
    traced = {p["index"] for p in run.timed("timed") if p["traced"]}
    if traced:
        # task time of jobs that ran outside every layer span
        out["unattributed_task_s"] = statistics.median(
            s.counters["task_run_s"] for s in run.rec.spans
            if s.name == "pass" and s.pass_index in traced)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        conf = configure_process(work)
        sys.path.insert(0, ROOT)
        # -- set-up: import the package and start the session
        t0 = time.perf_counter()
        from car_insurance_data_pipeline_spark_spark import get_session

        spark = get_session(master=f"local[{cores}]", shuffle_partitions=cores,
                            extra_conf=conf)
        setup_s = time.perf_counter() - t0

        from tracer import Recorder

        workload = WORKLOADS[args.workload]()
        workload.prepare(work, args.seed, SIZES[args.workload][args.scale])
        run = Run(workload, spark, Recorder(spark, enabled=False))

        # The cold pass is the warm-up: it runs at full size and is kept
        # out of the steady metrics. A fixed number of timed passes
        # follows: the JIT is still descending, so every run and every
        # commit times the same pass indices rather than a time window.
        run.one_pass("cold", traced=False)
        gc0 = jvm_gc_seconds(spark)
        for _ in range(TIMED_PASSES):
            run.one_pass("timed", traced=bool(args.trace))
        gc_s = (jvm_gc_seconds(spark) - gc0) / TIMED_PASSES
        if not run.timed("cold") or not run.timed("timed"):
            # no time to report: the program failed, not a measurement
            print("diagnostics " + json.dumps(diagnostics(run)))
            raise SystemExit("no cold or no timed pass finished; see diagnostics")

        if args.trace:
            metrics = per_layer(run, setup_s, gc_s, cores, WORKLOADS)
            units = dict(layer_metric_names(WORKLOADS))
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump([vars(s) for s in run.rec.spans], f)
        else:
            metrics = end_to_end(run, setup_s, jvm_live_heap_mb(spark))
            units = END_TO_END_UNITS
        failed = sum(not p["ok"] for p in run.passes)
        result = {
            "correct": failed == 0,
            "attempted": len(run.passes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print("diagnostics " + json.dumps(diagnostics(run)))
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
