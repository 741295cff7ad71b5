"""Closed-loop op runner, latency statistics and the Spark trace.

One client runs ops back to back (closed loop). A *cycle* is one pass over
a workload's op template: its pinned ops first, then the rest in an order
drawn from the seeded RNG. A fixed number of warm-up cycles run untimed;
the timed region then runs a fixed number of whole cycles, so every run
of a workload times the same mix and number of ops.

Each op records its wall time and the CPU time of the benchmark's process
tree (the driver, its JVM, the JVM's Python workers) over the same
interval. Wall time includes the time the hypervisor gave the host's vCPUs
to other guests; CPU time does not.

Every op returns a token that its ``check`` verifies after the clock has
stopped; an op that raises or fails its check counts as failed and is left
out of the figures.

Tracing (``traced=True``) sets a Spark job group per op, forces the
physical plan before the action (``session.plan_s``) and reads the
group's job/stage/task counts from ``statusTracker``. ``EventLog``
attaches Spark's event-log writer for the traced phase only and parses its
task-end events into executor-side totals per op.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable


class Context:
    """Per-op scratchpad the op writes its layer timings and counts into."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.spans[name] = self.spans.get(name, 0.0) + value

    def timed(self, name: str, fn: Callable[[], Any]) -> Any:
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.add(name, time.perf_counter() - t0)


@dataclass
class Op:
    kind: str
    run: Callable[[Context], Any]
    # verifies the token outside the timed interval; raises on a wrong
    # output and may return layer values that only exist after the op
    check: Callable[[Any], dict[str, float] | None] = lambda token: None
    # runs first in every cycle, before the shuffled ops; an op whose
    # effect on the others must not depend on the seed's order
    pinned: bool = False


@dataclass
class Sample:
    kind: str
    latency_s: float
    ok: bool
    spans: dict[str, float]
    start_ms: int
    end_ms: int
    group: str | None = None
    # CPU seconds the process tree spent on the op
    cpu_s: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    def values(self) -> dict[str, float]:
        """Every layer value of this op: its spans and its Spark counters."""
        return {**self.spans, **self.counters}


@dataclass
class Cycle:
    samples: list[Sample]
    seconds: float
    cpu_s: float
    # share of the host's CPU time the hypervisor gave to other guests
    steal: float


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of this process
    and every live process below it: the benchmark, its JVM and the JVM's
    Python workers. Time the hypervisor stole is not in it."""
    root = os.getpid()
    kids: dict[int, list[tuple[int, float]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])
        kids.setdefault(int(fields[1]), []).append((int(name), ticks * _TICK_S))
    own = {pid: t for group in kids.values() for pid, t in group}
    total, todo = own.get(root, 0.0), [root]
    while todo:
        for pid, t in kids.get(todo.pop(), []):
            total += t
            todo.append(pid)
    return total


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (empty where absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) else 0.0


class Loop:
    def __init__(self, spark, template: list[Op], seed: int) -> None:
        self.spark = spark
        self.template = template
        self.seed = seed
        self.rng = random.Random(seed)
        self.n_ops = 0
        self.warmup_samples: list[Sample] = []
        self.timed_cycles: list[Cycle] = []

    # -- one op -----------------------------------------------------------
    def one(self, op: Op, traced: bool) -> Sample:
        sc = self.spark.sparkContext
        self.n_ops += 1
        group = f"{op.kind}#{self.n_ops}" if traced else None
        if traced:
            sc.setJobGroup(group, group, False)
        ctx = Context(traced)
        cpu0 = tree_cpu_s()
        start_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        ok = True
        try:
            token = op.run(ctx)
            latency = time.perf_counter() - t0
            end_ms = int(time.time() * 1000)
            cpu = tree_cpu_s() - cpu0
            ctx.spans.update(op.check(token) or {})
        except Exception:
            latency = time.perf_counter() - t0
            end_ms = int(time.time() * 1000)
            cpu = tree_cpu_s() - cpu0
            ok = False
            print(f"# op {op.kind} FAILED:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        s = Sample(op.kind, latency, ok, ctx.spans, start_ms, end_ms, group, cpu)
        if traced:
            s.counters = group_counters(self.spark, group)
        return s

    def cycle(self, traced: bool = False) -> Cycle:
        order = [op for op in self.template if not op.pinned]
        self.rng.shuffle(order)
        order = [op for op in self.template if op.pinned] + order
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        samples = [self.one(op, traced) for op in order]
        return Cycle(
            samples, time.perf_counter() - t0, sum(s.cpu_s for s in samples),
            steal_share(ticks, cpu_ticks()),
        )

    # -- phases -----------------------------------------------------------
    def phase(self, name: str) -> None:
        """Draw the op orders of a phase (warm-up, timed, traced) from
        (seed, phase)."""
        self.rng = random.Random(f"{self.seed}:{name}")

    def warm_up(self, cycles: int = 3) -> list[Cycle]:
        """``cycles`` untimed cycles, so every run starts timing at the
        same point of the JIT's warm-up.

        The count is fixed rather than found by a levelling test: stopping
        once a cycle's CPU time came within 10% of the one before stopped
        2 runs in 48 after two cycles, whose timed cycles then cost 15-25%
        more than other runs'. ``drift_last_over_first_quarter`` shows
        how far a run still was from level."""
        self.phase("warm-up")
        out: list[Cycle] = []
        for i in range(cycles):
            c = self.cycle()
            out.append(c)
            self.warmup_samples.extend(c.samples)
            print(f"# warm-up cycle {i + 1}: {c.seconds:.3f}s wall, "
                  f"{c.cpu_s:.2f}s CPU", file=sys.stderr)
        return out

    def timed(self, cycles: int, traced: bool = False) -> list[Sample]:
        """``cycles`` whole cycles."""
        self.phase("traced" if traced else "timed")
        samples: list[Sample] = []
        for _ in range(cycles):
            c = self.cycle(traced)
            self.timed_cycles.append(c)
            samples.extend(c.samples)
        return samples


# -- Spark counters ------------------------------------------------------------
def _drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> dict[str, float]:
    """Exact job/stage/task counts of one job group from ``statusTracker``.
    Skipped stages (shuffle output reused from an earlier job) ran no task
    and are not counted."""
    _drain_listeners(spark)
    st = spark.sparkContext.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = failed = 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is None or sid in stages:
                continue
            if si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            stages.add(sid)
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stages),
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
    }


class EventLog:
    """Spark's event-log writer, attached to a live session for one phase.

    ``EventLoggingListener`` is added to the listener bus on ``start`` and
    removed on ``stop``, so the untraced phase of the same process runs
    without it."""

    def __init__(self, spark, log_dir: str, name: str) -> None:
        self.spark = spark
        self.log_dir = log_dir
        self.name = name
        self._listener = None

    def start(self) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        jsc = self.spark.sparkContext._jsc.sc()
        jvm = self.spark.sparkContext._jvm
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.name,
            jvm.scala.Option.empty(),
            jvm.java.io.File(self.log_dir).toURI(),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def stop(self) -> None:
        if self._listener is None:
            return
        _drain_listeners(self.spark)
        self.spark.sparkContext._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

    def per_group(self) -> dict[str, dict[str, Any]]:
        """Executor-side totals and job intervals per job group."""
        path = glob.glob(os.path.join(self.log_dir, self.name + "*"))[0]
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        stage_submit: dict[int, int] = {}
        out: dict[str, dict[str, Any]] = {}

        def acc(group: str) -> dict[str, Any]:
            return out.setdefault(group, {
                "intervals": [], "spark.task_wait_s": 0.0,
                "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
                "spark.jvm_gc_s": 0.0, "spark.shuffle_read_bytes": 0,
                "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0,
                "spark.input_bytes": 0, "spark.output_bytes": 0,
            })

        job_start: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        acc(job_group[jid])["intervals"].append(
                            (job_start[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit.setdefault(info["Stage ID"], info.get("Submission Time"))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    a = acc(group)
                    launch = ev["Task Info"]["Launch Time"]
                    submit = stage_submit.get(ev["Stage ID"]) or launch
                    a["spark.task_wait_s"] += max(0, launch - submit) / 1000
                    m = ev.get("Task Metrics") or {}
                    a["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    a["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["spark.shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    a["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    a["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    a["spark.output_bytes"] += (
                        (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    )
        return out


def union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def attach_event_metrics(samples: list[Sample], groups: dict[str, dict[str, Any]]) -> None:
    """Fold the event-log totals into each traced sample's counters, and
    derive ``spark.driver_s``: op wall time outside every job interval."""
    for s in samples:
        g = groups.get(s.group, {})
        for k, v in g.items():
            if k != "intervals":
                s.counters[k] = v
        busy = union_ms(g.get("intervals", []), s.start_ms, s.end_ms)
        s.counters["spark.driver_s"] = max(0, (s.end_ms - s.start_ms) - busy) / 1000


# -- statistics ----------------------------------------------------------------
def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples above it. Below 21 samples that percentile would not lie above
    the median, so the tail is the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1], n
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i], n


def drift(samples: list[Sample]) -> float:
    """Median kind-normalised CPU time of the last quarter of timed ops over
    that of the first quarter (1.0 = no drift, >1 = costlier)."""
    ok = [s for s in samples if s.ok]
    if not ok:
        return 0.0
    med = {k: statistics.median(v) for k, v in by_kind(ok, "cpu_s").items()}
    norm = [s.cpu_s / med[s.kind] for s in ok]
    q = max(1, len(norm) // 4)
    return statistics.median(norm[-q:]) / statistics.median(norm[:q])


def by_kind(samples: list[Sample], attr: str) -> dict[str, list[float]]:
    """``attr`` of the ok samples, grouped by op kind."""
    out: dict[str, list[float]] = {}
    for s in samples:
        if s.ok:
            out.setdefault(s.kind, []).append(getattr(s, attr))
    return out


def cpu_s_per_op(samples: list[Sample]) -> float:
    """CPU seconds per op over the ok samples. A timed region is whole
    cycles, one op of each kind per cycle, so every kind weighs as much as
    it does in a cycle."""
    cpu = [s.cpu_s for s in samples if s.ok]
    return sum(cpu) / len(cpu) if cpu else 0.0


def wall_figures(samples: list[Sample]) -> dict[str, Any]:
    """Wall-time figures of the timed region, each with its unit:
    ``ops_per_s`` (the throughput of a cycle run at each kind's median
    latency), ``latency_p50_s`` and ``latency_tail_s``, plus the tail's
    percentile and sample count."""
    lat = [s.latency_s for s in samples if s.ok]
    if not lat:
        return {"n": 0}
    pct, tail_v, n = tail(lat)
    kinds = by_kind(samples, "latency_s")
    return {
        "ops_per_s": {
            "value": len(kinds) / sum(statistics.median(v) for v in kinds.values()),
            "unit": "1/s",
        },
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "latency_tail_s": {"value": tail_v, "unit": "s"},
        "tail_percentile": round(pct, 2),
        "n": n,
    }


def per_kind(samples: list[Sample], keys: list[str]) -> dict[str, dict[str, float]]:
    """Median of each layer value per op kind, over the kind's ok samples."""
    out: dict[str, dict[str, float]] = {}
    kinds = sorted({s.kind for s in samples})
    for k in kinds:
        ss = [s for s in samples if s.kind == k and s.ok]
        if not ss:
            continue
        row: dict[str, float] = {
            "n": len(ss),
            "latency_s": statistics.median(s.latency_s for s in ss),
            "cpu_s": statistics.median(s.cpu_s for s in ss),
        }
        for key in keys:
            vals = [s.values()[key] for s in ss if key in s.values()]
            if vals:
                row[key] = statistics.median(vals)
        out[k] = row
    return out
