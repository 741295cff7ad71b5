"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation_index --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
``{"detail": ...}`` object with the wall-time figures (throughput, median
and tail latency with the tail's percentile and sample count), the
per-op-kind breakdown, warm-up and timed cycle times, host steal and
within-run drift.

The timed region is a fixed number of whole cycles (one op of each kind
per cycle): ``--seconds`` divided by the workload's nominal cycle time on
the reference host, and at least two. ``--trace 0`` reports the
end-to-end metrics of an untraced timed region: ``setup_s`` (wall) and
``cpu_s_per_op`` (CPU seconds of the process tree per op). ``--trace 1``
runs the same set-up, then the timed region once untraced and once traced
(job groups, forced planning, event log), and reports the per-layer
metrics plus the traced/untraced CPU per op as ``trace.overhead_ratio``.

Everything a run writes (fixture, lake, warehouse, artifacts, Spark scratch,
event log) lives in a private directory under ``.perfbench_runs/`` that is
deleted before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layer values reported as the median over the ops that report them (else
# 0); every other layer value is the per-op mean of the per-kind medians,
# so it reads 0 where the layer is idle
MEDIAN_LAYERS = {
    "operators.lsh_index.build_s",
    "pipeline.warehouse_files_total",
    "pipeline.write_amplification",
    "pipeline.dedup_kept_ratio",
    "sources.records_landed_ratio",
}

DEFAULT_SF = 0.01


def declared_units(group: str) -> dict[str, str]:
    """Metric name -> unit of one metric group of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF,
                   help="fixture scale factor of the catalog workloads")
    return p.parse_args(argv)


def private_env(run_dir: str) -> None:
    """Point every scratch location Spark and the package use into the run
    directory, before the package (whose session conf reads the
    environment at import) or the JVM is loaded."""
    for sub in ("artifacts", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["VMHUB_SPARK_ARTIFACTS"] = os.path.join(run_dir, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Python workers import the package by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR


def master() -> str:
    nproc = os.cpu_count() or 1
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(want), nproc) if want.isdigit() and int(want) > 0 else nproc
    return f"local[{cpus}]"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def layer_metrics(samples, template, extra) -> tuple[dict[str, float], dict]:
    """The per-layer metrics of the traced pass, and the per-kind table."""
    from perfbench.harness import per_kind

    names = list(declared_units("per_layer"))
    kinds = per_kind(samples, names)
    weights = [op.kind for op in template]
    out: dict[str, float] = {}
    for name in names:
        if name in extra:
            out[name] = extra[name]
        elif name not in MEDIAN_LAYERS:
            out[name] = sum(kinds.get(k, {}).get(name, 0.0) for k in weights) / len(weights)
        else:
            vals = [s.values()[name] for s in samples if s.ok and name in s.values()]
            out[name] = statistics.median(vals) if vals else 0.0
    return out, kinds


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    try:
        # fails when a signal broke off a call into the JVM mid-reply
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "vmhub_data_pipeline_spark")):
        print(f"error: package vmhub_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    runs_root = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_root)
    private_env(run_dir)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from perfbench import harness
        from perfbench.workloads import WORKLOADS
        from vmhub_data_pipeline_spark.session import build_session

        if args.workload not in WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        ticks = harness.cpu_ticks()
        t_setup = time.perf_counter()
        spark = build_session(f"perfbench-{args.workload}", master=master())
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, args.sf)
        wl.setup()
        wl.verify()
        template = wl.template()
        loop = harness.Loop(spark, template, args.seed)
        warm = loop.warm_up()
        setup_s = time.perf_counter() - t_setup
        # the run length in whole cycles: --seconds at the workload's
        # nominal cycle time on the reference host
        cycles = max(2, round(args.seconds / wl.NOMINAL_CYCLE_S))
        print(f"# setup {setup_s:.2f}s", file=sys.stderr)

        detail: dict = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
                        "master": master(), "timed_cycles": cycles,
                        "warmup_cycle_s": [round(c.seconds, 3) for c in warm],
                        "warmup_cycle_cpu_s": [round(c.cpu_s, 2) for c in warm]}
        if args.trace == 0:
            samples = loop.timed(cycles)
            metrics = {"setup_s": setup_s, "cpu_s_per_op": harness.cpu_s_per_op(samples)}
            units = declared_units("end_to_end")
            detail["wall"] = harness.wall_figures(samples)
            detail["per_kind"] = harness.per_kind(samples, [])
        else:
            # the same set-up, then the timed region untraced and traced:
            # the two give the tracing overhead
            untraced = loop.timed(cycles)
            events = harness.EventLog(spark, os.path.join(run_dir, "eventlog"), "trace")
            events.start()
            try:
                traced = loop.timed(cycles, traced=True)
            finally:
                events.stop()
            harness.attach_event_metrics(traced, events.per_group())
            u, t = harness.cpu_s_per_op(untraced), harness.cpu_s_per_op(traced)
            extra = {
                "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
                "trace.overhead_ratio": t / u if u else 0.0,
            }
            metrics, kinds = layer_metrics(traced, template, extra)
            units = declared_units("per_layer")
            samples = untraced + traced
            detail.update({
                "untraced_cpu_s_per_op": u, "traced_cpu_s_per_op": t,
                "untraced_wall": harness.wall_figures(untraced),
                "traced_wall": harness.wall_figures(traced),
                "per_kind": kinds,
            })
        detail["timed_cycle_s"] = [round(c.seconds, 3) for c in loop.timed_cycles]
        detail["timed_cycle_cpu_s"] = [round(c.cpu_s, 2) for c in loop.timed_cycles]
        detail["timed_cycle_steal"] = [c.steal for c in loop.timed_cycles]
        detail["host_steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())
        detail["drift_last_over_first_quarter"] = round(harness.drift(samples), 4)
        failed = sum(not s.ok for s in samples)
        warmup_failures = sum(not s.ok for s in loop.warmup_samples)
        correct = failed == 0 and not wl.failed_kinds and warmup_failures == 0
        detail["warmup_failures"] = warmup_failures
        detail["failed_kinds"] = sorted(wl.failed_kinds)
        print(json.dumps({"detail": detail}, default=float))
        print(json.dumps({
            "correct": correct,
            "attempted": len(samples),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(runs_root)  # only when no other run is using it
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
