"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs
from ``--seed`` (or reuses them from an earlier run of the same seed),
sets up the engine's Spark session on ``local[<cores>]``, measures the
workload for about ``--seconds`` seconds, checks every output, and
prints a report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from spans the benchmark records around its calls into each
module of the package and from the Spark event log. Exit code 0 means
the run completed and the line was printed; the line's ``correct``
says whether every output was right.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdr_stream", "analytics")
#: Session set-ups per untraced run; ``setup_s`` is their median.
SETUPS = 3


class Run:
    """State of one benchmark run, handed to the workload module."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.setup_times: list[float] = []  # session set-ups, seconds
        self.cold_setup = (0.0, 0.0)  # start and warm-up of the first one
        self.event_log: str | None = None  # traced run: the app's log file
        self.peak_rss_mb = 0.0  # traced run
        self.traced_e2e: dict[str, float] = {}  # traced run: for the overhead line

    def metric(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.metrics[name] = (float(value), unit)
        if note:
            self.notes.append(f"{name}: {note}")

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def _setup(run: Run, warm_table: str) -> None:
    """Set the session up ``SETUPS`` times (once in the traced run),
    keeping the last session."""
    from perfbench import env

    run.spark, start_s, warm_s = env.timed_setup(warm_table)
    run.cold_setup = (start_s, warm_s)
    run.setup_times = [start_s + warm_s]
    for _ in range(0 if run.trace else SETUPS - 1):
        run.spark.stop()
        run.spark, start_s, warm_s = env.timed_setup(warm_table)
        run.setup_times.append(start_s + warm_s)
    if run.trace:
        run.event_log = run.spark.sparkContext.applicationId


def _stop_spark(run: Run) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_work_flow_for_big_data_spark")):
        print("perfbench: package etl_work_flow_for_big_data_spark not found "
              f"under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    env.configure(run.work, run.trace)
    import etl_work_flow_for_big_data_spark  # noqa: F401  (fail early)

    workload = importlib.import_module(f"perfbench.{args.workload}")
    warm_table = os.path.join(run.work, "warm.parquet")
    if not os.path.isdir(warm_table):
        env.write_warm_table(warm_table + ".tmp")
        os.replace(warm_table + ".tmp", warm_table)
    t_start = time.perf_counter()
    cpu0 = env.cpu_times()
    state = workload.prepare(run)

    t0 = time.perf_counter()
    try:
        _setup(run, warm_table)
        t_setup = time.perf_counter()
        if run.trace:
            from perfbench.trace import Tracer

            run.tracer = Tracer(run.spark)
            with env.RssSampler() as rss:
                workload.measure(run, state)
            run.peak_rss_mb = rss.peak_mb
        else:
            workload.measure(run, state)
        t_measure = time.perf_counter()
    finally:
        _stop_spark(run)
    t_stop = time.perf_counter()
    wall = t_stop - t0
    workload.finish(run, state)
    run.notes.append(
        f"timeline s: inputs {t0 - t_start:.1f}, set-ups {t_setup - t0:.1f}, workload "
        f"{t_measure - t_setup:.1f}, stop {t_stop - t_measure:.1f}, checks "
        f"{time.perf_counter() - t_stop:.1f}; CPU time stolen by the hypervisor "
        f"{env.steal_share(cpu0, env.cpu_times()) * 100:.1f} %")

    if run.trace:
        _trace_report(run, workload, state)
    else:
        run.metric("setup_s", statistics.median(run.setup_times), "s",
                   f"median of {len(run.setup_times)} set-ups "
                   f"{[round(t, 3) for t in run.setup_times]}; the first launched "
                   f"the JVM (start {run.cold_setup[0]:.3f} s, warm-up "
                   f"{run.cold_setup[1]:.3f} s)")
    _print(run, wall)
    return 0


def _trace_report(run: Run, workload, state) -> None:
    from perfbench import trace

    log = os.path.join(run.work, "eventlog", run.event_log)
    groups = trace.spark_metrics(log)
    os.remove(log)
    layer = workload.layer_metrics(run, state, groups)
    layer["session.start_s"], layer["session.warm_s"] = run.cold_setup
    layer["memory.peak_rss_mb"] = run.peak_rss_mb
    # every per-layer metric is reported; a layer this workload does
    # not run reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    unknown = set(layer) - set(declared)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    for name, unit in declared.items():
        run.metrics[name] = (float(layer.get(name, 0.0)), unit)
    run.tracer.write(os.path.join(run.work, f"spans-{run.workload}-{run.seed}.json"),
                     {g: v for g, v in groups.items() if g})
    base = os.path.join(run.work, f"result-{run.workload}-{run.seed}-trace0.json")
    if not os.path.exists(base):
        run.notes.append("tracing overhead: no untraced run of this workload and seed "
                         "in this checkout to compare with")
        return
    with open(base) as f:
        untraced = json.load(f)["metrics"]
    for name, traced_value in run.traced_e2e.items():
        u = untraced[name]["value"]
        run.notes.append(f"tracing overhead: {name} {traced_value:.4f} traced vs "
                         f"{u:.4f} untraced ({(traced_value / u - 1) * 100:+.1f} %)")


def _print(run: Run, wall: float) -> None:
    print(f"workload {run.workload} seed {run.seed} trace {int(run.trace)} "
          f"cores {os.cpu_count()} wall {wall:.1f} s")
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"  {name:34s} {value:14.4f} {unit}")
    for note in run.notes:
        print(f"  note {note}")
    print(f"operations attempted {run.attempted} failed {run.failed}")
    for p in run.problems[:20]:
        print(f"  FAILED {p}")
    out = {
        "correct": run.failed == 0 and not run.problems,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
    }
    line = json.dumps(out)
    if not run.trace:
        with open(os.path.join(run.work, f"result-{run.workload}-{run.seed}-trace0.json"),
                  "w") as f:
            f.write(line + "\n")
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    sys.exit(main())
