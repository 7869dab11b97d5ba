"""``cdr_stream``: the mediation and rating path, as a stream.

Pipeline, built from the package's public API as an application would:
``sources.registry`` ``read_stream("kv_text")`` → ``PipelineSpec``
(``filter_valid`` on ``s`` → ``route_by`` on ``t``) →
``streaming.windows.dedup_within_watermark`` on the CDR id → broadcast
tariff join and ``operators.transforms.rate`` →
``streaming.sinks.route_fanout_writer`` (parquet partitioned by route,
checkpointed).

One streaming query runs three segments of traffic into one landing
directory:

1. Warm-up (untimed): a few small files, so the first micro-batch's
   code generation and state-store set-up are paid before timing.
2. Fixed rate (open loop): a generator thread lands one CDR file every
   ``FILE_INTERVAL`` seconds (written under a hidden name, then
   renamed) at ``RATE`` CDRs per second for ``RATE_SHARE`` of ``--seconds``; the
   schedule does not slow when the pipeline does. A CDR's latency runs
   from when it was due to be created to the end of the sink call that
   wrote its micro-batch; the file-to-batch map comes from the
   checkpoint's source log.
3. Drain: a backlog of ``BACKLOG_FILES`` files lands at once and is
   processed ``MAX_FILES_PER_TRIGGER`` files per micro-batch.

Every CDR carries its creation time as event time. Inputs carry about
5 % duplicate CDRs within and across files, 2 % without ``s`` (dropped)
and 2 % without ``t`` (routed to ``dead-letter``). After the run the
committed parquet output is checked against the generator's ledger.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

from perfbench import checks, gen

RATE = 4_000  # offered CDRs per second in the fixed-rate segment
FILE_INTERVAL = 0.25  # seconds between landed files
PER_FILE = int(RATE * FILE_INTERVAL)
RATE_SHARE = 0.5  # share of --seconds spent at the fixed rate
WARM_FILES = 3
BACKLOG_FILES = 60
BACKLOG_PER_FILE = 2_500
#: Files per micro-batch at most. At the fixed rate a trigger picks up
#: the files that landed while the previous one ran, well under this
#: cap, so only the backlog is split by it.
MAX_FILES_PER_TRIGGER = 12
WATERMARK = "10 seconds"


class Segment:
    """One segment of the stream's traffic and what happened to it."""

    def __init__(self, name: str, files, ledger):
        self.name = name
        self.files = files  # (name, text, created offsets in us)
        self.ledger = ledger
        self.landed: dict[str, tuple[float, float]] = {}  # file -> (landed, due)
        self.t0 = 0.0  # when the segment started landing
        self.t1 = 0.0  # when all its files were committed

    @property
    def records(self) -> int:
        return sum(len(c) for _, _, c in self.files)


class State:
    def __init__(self, root: str, segments: dict[str, Segment]):
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.out = os.path.join(root, "out")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.landing)
        self.segments = segments
        self.sink_log: list[tuple[int, float, float]] = []  # batch, start, end
        self.progress: list[dict] = []
        self.exception: str | None = None
        self.compile_s = 0.0
        self.run_id = None
        self.rows: list = []


def _land(landing: str, name: str, text: str) -> None:
    """Atomic landing: the file source ignores names starting with a
    dot, so a file appears complete or not at all."""
    tmp = os.path.join(landing, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, os.path.join(landing, name))


def prepare(run) -> State:
    root = os.path.join(run.work, "cdr-run")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    interval_us = int(FILE_INTERVAL * 1e6)
    n_rate = max(int(run.seconds * RATE_SHARE / FILE_INTERVAL), 4)
    segments, start_us = {}, 0
    for name, n_files, per_file, first_id in (
        ("warm", WARM_FILES, 500, 2_000_000_000),
        ("rate", n_rate, PER_FILE, 0),
        ("drain", BACKLOG_FILES, BACKLOG_PER_FILE, 1_000_000_000),
    ):
        files, ledger = gen.cdr_files(run.seed, n_files, per_file, first_id,
                                      interval_us, prefix=name[0], start_us=start_us)
        segments[name] = Segment(name, files, ledger)
        start_us += n_files * interval_us
    rate, drain = segments["rate"], segments["drain"]
    run.notes.append(
        f"inputs: fixed rate {len(rate.files)} files x {PER_FILE} CDRs at {RATE} "
        f"CDR/s (one file per {FILE_INTERVAL} s); backlog {len(drain.files)} files x "
        f"{BACKLOG_PER_FILE} CDRs, at most {MAX_FILES_PER_TRIGGER} files per trigger; "
        f"planted duplicates "
        f"{rate.ledger.planted_dups}+{drain.ledger.planted_dups}, no s "
        f"{rate.ledger.no_s}+{drain.ledger.no_s}, no t {rate.ledger.no_t}+"
        f"{drain.ledger.no_t}")
    return State(root, segments)


def _spec():
    import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401
    from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec

    return PipelineSpec.from_rows("cdr_mediation", [
        {"session_id": 1, "operator_name": "filter_valid",
         "params": {"required": "s"}, "next_session_id": 2},
        {"session_id": 2, "operator_name": "route_by",
         "params": {"key": "t"}, "next_session_id": None},
    ])


def _cdrs(routed):
    from pyspark.sql import functions as F

    return routed.select(
        "s", "t", "route", "f",
        F.col("attrs")["u"].cast("double").alias("u"),
        F.timestamp_micros(F.col("attrs")["c"].cast("long")).alias("ts"),
    )


def _rated(spark, unique):
    from pyspark.sql import functions as F

    from etl_work_flow_for_big_data_spark.operators.transforms import rate

    tariff = spark.createDataFrame(
        [(t, p, d, x) for t, (p, d, x) in gen.TARIFF.items()],
        "t string, p double, d double, x double",
    )
    priced = unique.join(F.broadcast(tariff), "t", "left") \
        .withColumn("amount", F.col("u") * F.col("p"))
    return rate(priced, amount="amount", discount="d", tax="x", out="charge") \
        .select("s", "route", "charge", "f")


def _start(run, state: State):
    from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
    from etl_work_flow_for_big_data_spark.streaming.sinks import route_fanout_writer
    from etl_work_flow_for_big_data_spark.streaming.windows import dedup_within_watermark

    stream = SOURCES.read_stream(run.spark, "kv_text", state.landing, None,
                                 maxFilesPerTrigger=str(MAX_FILES_PER_TRIGGER))
    t0 = time.perf_counter()
    if run.tracer is None:
        routed = _spec().compile(stream)
    else:
        with run.tracer.span("plans.compile"):
            routed = _spec().compile(stream)
    state.compile_s = time.perf_counter() - t0
    unique = dedup_within_watermark(_cdrs(routed), ["s"], "ts", WATERMARK)
    writer = route_fanout_writer(state.out, "route")
    tracer = run.tracer

    def sink(batch_df, batch_id):
        t0 = time.perf_counter()
        if tracer is None:
            writer(batch_df, batch_id)
        else:
            with tracer.span("sinks.write_batch", group=False, batch=batch_id):
                writer(batch_df, batch_id)
        state.sink_log.append((batch_id, t0, time.perf_counter()))

    return _rated(run.spark, unique).writeStream.foreachBatch(sink) \
        .option("checkpointLocation", state.ckpt).start()


def _generator(state: State, seg: Segment) -> None:
    for j, (name, text, _) in enumerate(seg.files):
        due = seg.t0 + (j + 1) * FILE_INTERVAL
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        _land(state.landing, name, text)
        seg.landed[name] = (time.perf_counter(), due)


def _run_segment(state: State, q, seg: Segment, paced: bool) -> None:
    """Land the segment's files (on the generator's schedule when
    ``paced``, else all at once) and wait until all are committed."""
    seg.t0 = time.perf_counter()
    if paced:
        gen_thread = threading.Thread(target=_generator, args=(state, seg), daemon=True)
        gen_thread.start()
        gen_thread.join()
    else:
        for name, text, _ in seg.files:
            _land(state.landing, name, text)
            seg.landed[name] = (time.perf_counter(), seg.t0)
    q.processAllAvailable()
    seg.t1 = time.perf_counter()


def measure(run, state: State) -> None:
    tracer = run.tracer
    q = _start(run, state)
    state.run_id = str(q.runId)
    try:
        for name in ("warm", "rate", "drain"):
            seg = state.segments[name]
            if tracer is None:
                _run_segment(state, q, seg, paced=name == "rate")
            else:
                with tracer.span(f"streaming.{name}"):
                    _run_segment(state, q, seg, paced=name == "rate")
    except Exception as exc:  # noqa: BLE001 — a failed stream is a counted result
        state.exception = f"{type(exc).__name__}: {str(exc)[:500]}"
    finally:
        q.stop()
        state.progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        exc = q.exception()
        if exc is not None and state.exception is None:
            state.exception = str(exc)[:500]
    run.notes.append("segment wall s: " + ", ".join(
        f"{s.name} {s.t1 - s.t0:.2f}" for s in state.segments.values()))
    if tracer is not None:
        state.ladder = _ladder(run, state)


# --- checks and metrics ----------------------------------------------------

def _batch_files(state: State) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    The file source logs each file under its own log offset; the
    checkpoint's offset log records, per micro-batch, the source offset
    it read up to. Micro-batch ids and source offsets diverge (a batch
    that only advances the watermark reads no files), so a file belongs
    to the first micro-batch whose offset reaches the file's."""
    def entries(log_dir):
        for name in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
            if not name.startswith("."):
                with open(os.path.join(log_dir, name)) as f:
                    yield name, f.read().splitlines()

    batch_end = {}  # micro-batch id -> source log offset
    for name, lines in entries(os.path.join(state.ckpt, "offsets")):
        batch_end[int(name)] = json.loads(lines[2])["logOffset"]
    file_offset = {}
    for _, lines in entries(os.path.join(state.ckpt, "sources", "0")):
        for line in lines:
            if line.startswith("{"):
                rec = json.loads(line)
                file_offset[os.path.basename(rec["path"])] = rec["batchId"]
    ordered = sorted(batch_end.items())
    out = {}
    for name, off in file_offset.items():
        out[name] = next((b for b, end in ordered if end >= off), None)
    return out


def _read_output(state: State):
    """Committed rows ``(s, route, charge, batch_id)``."""
    import pyarrow.dataset as ds

    if not os.path.isdir(state.out):
        return []
    tbl = ds.dataset(state.out, format="parquet", partitioning="hive").to_table(
        columns=["s", "route", "charge", "batch_id"])
    return list(zip(*[tbl.column(c).to_pylist()
                      for c in ("s", "route", "charge", "batch_id")]))


def _check(run, state: State) -> None:
    """Every micro-batch the sink wrote is an operation; a batch fails
    when it holds a wrong row or was written more than once. Problems
    no batch explains (missing CDRs, wrong per-route totals, a failed
    stream) fail one more operation."""
    state.rows = _read_output(state)
    calls: dict[int, int] = {}
    for b, _, _ in state.sink_log:
        calls[b] = calls.get(b, 0) + 1
    run.attempted += max(len(calls), 1)
    bad = {b for b, n in calls.items() if n > 1}
    for b in sorted(bad):
        run.problems.append(f"batch {b} written {calls[b]} times")
    ledger = gen.CdrLedger()
    for seg in state.segments.values():
        ledger.expected.update(seg.ledger.expected)
    for s, route, charge, b in state.rows:
        cents = None if charge is None else int(round(charge * 100))
        if ledger.expected.get(s) != (route, cents):
            bad.add(b)
    run.failed += len(bad)
    problems = checks.check_cdr_output([r[:3] for r in state.rows], ledger)
    if state.exception:
        problems.append(f"stream failed: {state.exception}")
    if problems and not bad:
        run.failed += 1
    run.problems.extend(problems)


def _latencies(state: State, seg: Segment) -> list[float]:
    """Per-CDR latency: end of the sink call that wrote the CDR's batch
    minus the CDR's due creation time."""
    commit = {b: end for b, _, end in state.sink_log}
    file_batch = _batch_files(state)
    first_us = seg.files[0][2][0]
    out = []
    for name, _, created in seg.files:
        end = commit.get(file_batch.get(name))
        if end is not None:
            out.extend(end - (seg.t0 + (c - first_us) / 1e6) for c in created)
    return out


def _batch_ids(state: State, seg: Segment) -> set[int]:
    file_batch = _batch_files(state)
    return {file_batch[n] for n, _, _ in seg.files if n in file_batch}


def finish(run, state: State) -> None:
    _check(run, state)
    rate, drain = state.segments["rate"], state.segments["drain"]
    lat = _latencies(state, rate)
    if len(lat) < rate.records:
        run.fail(f"only {len(lat)} of {rate.records} fixed-rate CDRs reached a "
                 "committed batch")

    def trigger_s(seg):
        ids = _batch_ids(state, seg)
        return [(p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000.0)
                for p in state.progress
                if p["batchId"] in ids and p["durationMs"].get("triggerExecution")]

    per_batch = [n / t for n, t in trigger_s(drain)]
    rows_per_s = statistics.median(per_batch) if per_batch else 0.0
    rate_trigger = [t for _, t in trigger_s(rate)]
    drain_s = drain.t1 - drain.t0
    if run.trace:
        run.traced_e2e = {"rows_per_s": rows_per_s}
        return
    shutil.rmtree(state.root, ignore_errors=True)
    lat = lat or [float("nan")]
    tail, pct, n = checks.tail(lat)
    late = max((landed - due for landed, due in rate.landed.values()), default=0.0)
    run.metric("rows_per_s", rows_per_s, "rows/s",
               f"median over {len(per_batch)} backlog micro-batches of input CDRs / "
               f"trigger time; the whole backlog of {drain.records} CDRs took "
               f"{drain_s:.3f} s")
    run.metric("queries_per_s", 1 / statistics.median(rate_trigger) if rate_trigger else 0.0,
               "1/s", "micro-batch commits per second at the fixed rate: 1 / median "
               f"trigger time, n={len(rate_trigger)}")
    run.metric("latency_p50_s", statistics.median(lat), "s",
               f"per CDR at {RATE} CDR/s, due creation to sink commit, n={n} in "
               f"{len(rate_trigger)} micro-batches, generator at most "
               f"{late:.3f} s late")
    run.metric("latency_tail_s", tail, "s", f"p{pct:.3f} per CDR, n={n}")
    run.metric("job_s", drain_s, "s", "backlog landed to all of it committed, n=1")


# --- traced run ------------------------------------------------------------

def _ladder(run, state: State) -> dict:
    """Self times by prefix differences over the backlog files read as a
    batch: each prefix of the chain (read → +parse → +route → +dedup →
    +rate → +write) is materialized to the noop sink or, for the last,
    written through the sink's writer; median of 3."""
    from pyspark.sql import functions as F

    from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
    from etl_work_flow_for_big_data_spark.streaming.sinks import route_fanout_writer

    spark, tracer = run.spark, run.tracer
    landing = os.path.join(state.root, "ladder-in")
    os.makedirs(landing)
    for name, text, _ in state.segments["drain"].files:
        _land(landing, name, text)
    out_dir = os.path.join(state.root, "ladder-out")

    def parse():
        return SOURCES.read(spark, "kv_text", landing)

    def route():
        return _cdrs(_spec().compile(parse()))

    def dedup():
        # dropDuplicatesWithinWatermark exists only on streams; on a
        # bounded batch whose duplicates all fall inside the watermark
        # horizon, dropDuplicates on the same key keeps the same rows
        return route().dropDuplicates(["s"])

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    steps = [
        ("read", lambda: noop(spark.read.text(landing).select(F.length("value")))),
        ("parse", lambda: noop(parse())),
        ("route", lambda: noop(route())),
        ("dedup", lambda: noop(dedup())),
        ("rate", lambda: noop(_rated(spark, dedup()))),
        ("write", lambda: route_fanout_writer(out_dir, "route")(_rated(spark, dedup()), 0)),
    ]
    t = {}
    for name, fn in steps:
        ts = []
        for _ in range(3):
            with tracer.span(f"ladder.{name}") as span:
                fn()
            ts.append(span["end"] - span["start"])
        t[name] = statistics.median(ts)
    return {
        "sources.read_s": t["read"],
        "packets.parse_s": t["parse"] - t["read"],
        "transforms.route_s": t["route"] - t["parse"],
        "streaming.dedup_s": t["dedup"] - t["route"],
        "transforms.rate_s": t["rate"] - t["dedup"],
        "sinks.write_s": t["write"] - t["rate"],
    }


def layer_metrics(run, state: State, groups: dict) -> dict:
    from perfbench import trace

    rate, drain = state.segments["rate"], state.segments["drain"]
    file_batch = _batch_files(state)
    rate_ids, drain_ids = _batch_ids(state, rate), _batch_ids(state, drain)
    rate_prog = [p for p in state.progress if p["batchId"] in rate_ids]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in rate_prog]
    ckpt = [(p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0))
            / 1000.0 for p in rate_prog]
    with_state = [p for p in state.progress if p.get("stateOperators")]
    start: dict[int, float] = {}
    for b, s0, _ in state.sink_log:
        start.setdefault(b, s0)
    waits = [start[file_batch[n]] - landed for n, (landed, _) in rate.landed.items()
             if file_batch.get(n) in start]
    gen_end = max((landed for landed, _ in rate.landed.values()), default=0.0)
    committed = {b for b, _, end in state.sink_log if end <= gen_end}
    backlog = sum(1 for n in rate.landed if file_batch.get(n) not in committed)
    out_files = out_bytes = 0
    for b in drain_ids:
        for dirpath, _, files in os.walk(os.path.join(state.out, f"batch_id={b}")):
            for f in files:
                if f.endswith(".parquet"):
                    out_files += 1
                    out_bytes += os.path.getsize(os.path.join(dirpath, f))
    drain_in = sum(len(text) for _, text, _ in drain.files)
    drain_out = sum(1 for r in state.rows if r[3] in drain_ids)
    valid_in = drain.records - drain.ledger.no_s
    sp = trace.sum_spark(groups, [f"{state.run_id}:{b}" for b in rate_ids | drain_ids])
    wall = sum(s.t1 - s.t0 for s in (rate, drain))
    state_bytes = [sum(op.get("memoryUsedBytes", 0) for op in p["stateOperators"])
                   for p in with_state]
    m = {
        "sources.input_rows": sum(p["numInputRows"] for p in state.progress),
        "sources.input_bytes": sum(len(t) for s in state.segments.values()
                                   for _, t, _ in s.files),
        "sources.queue_wait_s": statistics.median(waits) if waits else 0.0,
        "plans.compile_s": state.compile_s,
        "streaming.trigger_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.trigger_tail_s": checks.tail(trig)[0] if trig else 0.0,
        "streaming.checkpoint_s": statistics.median(ckpt) if ckpt else 0.0,
        "streaming.checkpoint_share": sum(ckpt) / sum(trig) if sum(trig) else 0.0,
        "streaming.state_rows": sum(op.get("numRowsTotal") or 0
                                    for op in with_state[-1]["stateOperators"])
        if with_state else 0,
        "streaming.state_bytes_peak": max(state_bytes, default=0),
        "streaming.backlog_files": backlog,
        "streaming.dups_dropped_ratio": (valid_in - drain_out) / drain.ledger.planted_dups
        if drain.ledger.planted_dups else 0.0,
        "streaming.gen_late_s": max((a - d for a, d in rate.landed.values()), default=0.0),
        "sinks.output_files": out_files,
        "sinks.bytes_per_input_byte": out_bytes / drain_in if drain_in else 0.0,
        "spark.core_util": sp["task_s"] / (wall * len(os.sched_getaffinity(0))),
    }
    for key in ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sp[key]
    m.update(state.ladder)
    shutil.rmtree(state.root, ignore_errors=True)
    return m
