"""Structured Streaming tests: windows+watermark over a file stream,
checkpoint restart without duplicates (G2), routed fan-out (F1),
control plane incl. broadcast + idempotent start (G5), supervisor
auto-restart (G4)."""

from __future__ import annotations

import glob
import json
import time

import pytest
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
from etl_work_flow_for_big_data_spark.streaming.engine import (
    ACTION_RESTART,
    ACTION_START,
    ACTION_STOP,
    PipelineManager,
)
from etl_work_flow_for_big_data_spark.streaming.sinks import start_routed_stream
from etl_work_flow_for_big_data_spark.streaming.windows import (
    dedup_within_watermark,
    tumbling_agg,
)

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events_json(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    fname = path / f"chunk_{int(time.time() * 1e6)}.json"
    with open(fname, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return fname


_BASE = [
    {"event_id": 1, "ts": "2024-01-01 00:05:00", "user_id": 1, "event_type": "view", "value": 1.0},
    {"event_id": 2, "ts": "2024-01-01 00:55:00", "user_id": 1, "event_type": "view", "value": 2.0},
    {"event_id": 3, "ts": "2024-01-01 01:05:00", "user_id": 2, "event_type": "click", "value": 3.0},
    {"event_id": 4, "ts": "2024-01-01 01:45:00", "user_id": 2, "event_type": "view", "value": 4.0},
]


def test_tumbling_window_file_stream(spark, tmp_path):
    indir = tmp_path / "in"
    _write_events_json(indir, _BASE)
    stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)
    agg = tumbling_agg(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got == {
        "2024-01-01 00:00:00": (2, 3.0),
        "2024-01-01 01:00:00": (2, 7.0),
    }


def test_routed_fanout_and_checkpoint_restart(spark, tmp_path):
    """F1 lazy route creation + G2 restart-without-duplicates."""
    indir, outdir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    _write_events_json(indir, _BASE)

    def run_once():
        stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)
        routed = stream.withColumn("route", F.col("event_type"))
        q = start_routed_stream(routed, str(outdir), str(ckpt), "route")
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(str(outdir)).collect()
    assert sorted(r["event_id"] for r in first) == [1, 2, 3, 4]
    routes = {r["route"] for r in first}
    assert routes == {"view", "click"}  # routes materialized lazily per value

    # restart with one new file: only the new rows appear once, old
    # batches untouched (checkpoint = offset ledger)
    _write_events_json(
        indir,
        [{"event_id": 5, "ts": "2024-01-01 02:00:00", "user_id": 3, "event_type": "buy", "value": 9.9}],
    )
    run_once()
    again = spark.read.parquet(str(outdir)).collect()
    assert sorted(r["event_id"] for r in again) == [1, 2, 3, 4, 5]


def test_dedup_within_watermark(spark, tmp_path):
    indir = tmp_path / "in"
    dup = dict(_BASE[0])
    _write_events_json(indir, _BASE + [dup])  # exact duplicate of event 1
    stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_test").collect()]
    assert sorted(ids) == [1, 2, 3, 4]


def test_near_dedup_within_watermark(spark, tmp_path):
    """Streaming near-dup ingest gate: token-shuffled rewrites of the
    same document collapse to one survivor (SimHash is
    order-independent over distinct tokens), distinct documents pass,
    and cross-batch near-dups within the watermark are dropped too."""
    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    indir = tmp_path / "docs_in"
    docs = [
        {"doc_id": 1, "ts": "2024-01-01 00:05:00",
         "text": "the quick brown fox jumps"},
        # token-shuffled + repeated-token rewrite of doc 1 → same
        # distinct-token set → same fingerprint → dropped
        {"doc_id": 2, "ts": "2024-01-01 00:06:00",
         "text": "fox jumps the the quick brown"},
        {"doc_id": 3, "ts": "2024-01-01 00:07:00",
         "text": "entirely different content here"},
    ]
    schema = "doc_id long, ts timestamp, text string"
    indir.mkdir(parents=True, exist_ok=True)
    with open(indir / "b0.json", "w") as f:
        for r in docs:
            f.write(json.dumps(r) + "\n")
    stream = SOURCES.read_stream(spark, "json", str(indir), schema)
    gate = near_dedup_within_watermark(stream, "text", watermark="1 hour")

    outdir = tmp_path / "out"

    def run_once():
        # parquet sink + checkpoint (memory sink cannot recover from a
        # checkpoint, and the cross-batch assertion below NEEDS the
        # dedup state to survive the restart)
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(outdir))

        q = (
            gate.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            r["doc_id"] for r in spark.read.parquet(str(outdir)).collect()
        )

    assert run_once() == [1, 3]
    # fingerprint column is internal — the output schema is the input's
    assert [f.name for f in gate.schema.fields] == ["doc_id", "ts", "text"]
    # next batch: another rewrite of doc 1 (cross-batch, inside the
    # watermark horizon) is dropped; a new document passes
    with open(indir / "b1.json", "w") as f:
        f.write(json.dumps(
            {"doc_id": 4, "ts": "2024-01-01 00:20:00",
             "text": "brown fox quick the jumps"}) + "\n")
        f.write(json.dumps(
            {"doc_id": 5, "ts": "2024-01-01 00:21:00",
             "text": "yet another unrelated document"}) + "\n")
    assert run_once() == [1, 3, 5]


@pytest.fixture
def manager(spark, tmp_path):
    indir = tmp_path / "ctrl_in"
    _write_events_json(indir, _BASE)
    mgr = PipelineManager(spark)

    def builder(name):
        def build(s):
            stream = SOURCES.read_stream(s, "json", str(indir), EVENTS_SCHEMA)
            return (
                stream.writeStream.format("memory")
                .queryName(f"ctrl_{name}")
                .outputMode("append")
                .option(
                    "checkpointLocation", str(tmp_path / f"ctrl_ckpt_{name}_{time.time_ns()}")
                )
                .start()
            )

        return build

    mgr.register("p1", builder("p1"))
    mgr.register("p2", builder("p2"))
    yield mgr
    mgr.stop(None)


def test_control_plane_start_stop_restart(manager):
    assert manager.start("p1") is True
    assert manager.start("p1") is False  # idempotent (MFramework.cpp:1782-1787)
    assert manager.status()["p1"]["active"]

    manager.control(ACTION_START, None)  # broadcast start (id 0 analog)
    assert manager.status()["p2"]["active"]

    manager.control(ACTION_STOP, "p1")
    assert not manager.status()["p1"]["active"]
    assert manager.status()["p2"]["active"]

    manager.control(ACTION_RESTART, None)  # broadcast restart
    st = manager.status()
    assert st["p1"]["active"] and st["p2"]["active"]

    stopped = manager.stop(None)  # broadcast stop
    assert stopped == ["p1", "p2"]
    assert not any(s["active"] for s in manager.status().values())


def test_control_plane_errors(manager):
    with pytest.raises(KeyError, match="nope"):
        manager.start("nope")
    with pytest.raises(ValueError, match="unknown control action"):
        manager.control("explode", "p1")


def test_supervisor_restarts_dead_query(manager):
    manager.start("p1")
    # kill behind the manager's back (the monitor's dead-session case,
    # MFramework.cpp:1952-1964)
    manager._pipelines["p1"].query.stop()
    time.sleep(0.5)
    restarted = manager.check_once()
    assert restarted == ["p1"]
    assert manager.status()["p1"]["active"]
    assert manager.status()["p1"]["restarts"] == 1
    # a stopped-on-purpose pipeline is NOT restarted
    manager.stop("p1")
    assert manager.check_once() == []


def test_spec_compiled_kv_stream_end_to_end(spark, tmp_path):
    """The reference's full data path as one pipeline: protocol fetch →
    landing zone → kv_text stream → spec-compiled parse/validate/route
    chain → checkpointed routed fan-out (SURVEY §3.2)."""
    import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401
    from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec
    from etl_work_flow_for_big_data_spark.streaming.sinks import start_routed_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    src = tmp_path / "network_element.cdr"
    src.write_text("s=7|t=rating|f=a.cdr\ns=8|t=billing|f=b.cdr\nt=orphan\ns=9|f=d.cdr\n")
    SOURCES.fetch("local", str(src), str(landing / "ne.cdr"))

    spec = PipelineSpec.from_rows(
        "mediation",
        [
            {"session_id": 1, "operator_name": "parse_packets", "next_session_id": 2},
            {"session_id": 2, "operator_name": "filter_valid", "params": {"required": "s"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "route_by", "params": {"key": "t"}, "next_session_id": None},
        ],
    )
    stream = SOURCES.read_stream(spark, "kv_text", str(landing), None)
    q = start_routed_stream(
        spec.compile(stream).drop("attrs"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        "route",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out")).select("s", "route").collect()
    got = sorted((r["s"], r["route"]) for r in out)
    # orphan (no 's') dropped; routeless packet → dead-letter
    assert got == [(7, "rating"), (8, "billing"), (9, "dead-letter")]


def test_stream_stream_interval_join(spark, tmp_path):
    """G7-adjacent: stream-stream equi-join with an event-time interval
    bound and watermarks on both sides — the streaming twin of the
    as-of enrichment (purchase joined to the signup that preceded it
    within 1 hour). State on both sides is bounded by the watermark."""
    indir = tmp_path / "in"
    _write_events_json(
        indir,
        [
            {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "signup", "value": 0.0},
            {"event_id": 2, "ts": "2024-01-01 00:30:00", "user_id": 1, "event_type": "purchase", "value": 9.0},
            # signup too old for the 1h bound
            {"event_id": 3, "ts": "2024-01-01 00:00:00", "user_id": 2, "event_type": "signup", "value": 0.0},
            {"event_id": 4, "ts": "2024-01-01 02:00:00", "user_id": 2, "event_type": "purchase", "value": 5.0},
            # purchase with no signup at all
            {"event_id": 5, "ts": "2024-01-01 00:40:00", "user_id": 3, "event_type": "purchase", "value": 7.0},
        ],
    )
    stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withColumnRenamed("ts", "p_ts")
        .withWatermark("p_ts", "2 hours")
    )
    signups = (
        stream.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "2 hours")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("event_id", "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM ss_join").collect()
    )
    # only purchase 2 has a signup within the hour
    assert got == [2]


def test_stream_static_dim_enrichment(spark, tmp_path, sf_dir):
    """C1 in streaming: a micro-batch stream broadcast-joined to a
    static dimension — the per-packet session-map lookup shape."""
    from etl_work_flow_for_big_data_spark.catalog import load_table

    indir = tmp_path / "in"
    _write_events_json(indir, _BASE)
    dim = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") <= 2)
    stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.n_nationkey, "left"
    ).select("event_id", "n_name")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["n_name"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    # user_id 1 and 2 match dim keys; others null (left join)
    assert got[1] is not None and got[3] is not None
    assert len(got) == 4


def test_two_component_chained_topology(spark, tmp_path):
    """The reference's multi-component wiring: component A routes
    packets by 't' onto per-route queues; component B consumes A's
    'rating' route as its own input (M_LINKED_SESSIONS across
    components). Here the queue between components is the routed
    parquet layout; B streams from A's output directory."""
    import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401
    from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "in.cdr").write_text(
        "s=1|t=rating|v=100\ns=2|t=billing|v=50\ns=3|t=rating|v=70\n"
    )

    # component A: mediation (parse -> validate -> route) -> routed dirs
    spec_a = PipelineSpec.from_rows(
        "collector",
        [
            {"session_id": 1, "operator_name": "parse_packets", "next_session_id": 2},
            {"session_id": 2, "operator_name": "filter_valid", "params": {"required": "s"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "route_by", "params": {"key": "t"}, "next_session_id": None},
        ],
    )
    a_out = tmp_path / "a_out"
    stream_a = SOURCES.read_stream(spark, "kv_text", str(landing), None)
    routed = spec_a.compile(stream_a).withColumn(
        "v", F.col("attrs")["v"].cast("long")
    ).drop("attrs")
    qa = start_routed_stream(routed, str(a_out), str(tmp_path / "ckpt_a"), "route")
    qa.awaitTermination(120)

    # component B: rating — consumes ONLY component A's 'rating' route
    rating_in = spark.read.parquet(str(a_out)).filter(F.col("route") == "rating")
    charged = rating_in.withColumn("charge", F.col("v") * 2)
    got = sorted((r["s"], r["charge"]) for r in charged.collect())
    assert got == [(1, 200), (3, 140)]  # billing packet (s=2) not seen by B


def test_supervisor_stop_race_not_resurrected(spark):
    """A stop() landing between the supervisor's unlocked scan and its
    locked rebuild must win: the re-check under the lock (ADVICE r1,
    engine.py) sees desired_running=False and skips the restart."""
    mgr = PipelineManager(spark)
    built = []
    mgr.register("racer", lambda s: built.append(1))  # builder must not run
    reg = mgr._pipelines["racer"]
    reg.desired_running = True  # registered as running, query dead (None)

    class FlipOnSecondAcquire:
        """RLock wrapper simulating a concurrent stop() that acquires
        the lock right after the supervisor's snapshot scan."""

        def __init__(self, inner):
            self.inner = inner
            self.acquires = 0

        def __enter__(self):
            self.acquires += 1
            if self.acquires == 2:  # the per-pipeline rebuild acquire
                reg.desired_running = False  # the concurrent stop()
            return self.inner.__enter__()

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    mgr._lock = FlipOnSecondAcquire(mgr._lock)
    restarted = mgr.check_once()
    assert restarted == []
    assert built == []  # builder never invoked after the stop
    assert reg.restarts == 0


def test_control_packet_dispatch_reference_semantics(spark, tmp_path):
    """Wire-packet control dispatch mirrors the reference's control
    thread exactly (MFramework.cpp:1660-1756): terminated-entries
    find-loop, id-0 broadcast for stop/restart but NOT start, unknown
    ids logged-and-ignored."""
    indir = tmp_path / "in"
    _write_events_json(indir, _BASE)

    def builder(name):
        def build(s):
            stream = SOURCES.read_stream(s, "json", str(indir), EVENTS_SCHEMA)
            return (
                stream.writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                .start()
            )

        return build

    mgr = PipelineManager(spark)
    mgr.register("alpha", builder("alpha"))
    mgr.register("beta", builder("beta"))
    ids = {1: "alpha", 2: "beta"}

    assert mgr.dispatch_control_packet("s=1\na=startsession\n", ids) == "dispatched"
    assert mgr.status()["alpha"]["active"]
    assert not mgr.status()["beta"]["active"]

    # start does NOT broadcast on id 0 (reference quirk)
    assert mgr.dispatch_control_packet("s=0\na=startsession\n", ids) == "invalid-id"
    assert not mgr.status()["beta"]["active"]

    # stop broadcasts on id 0
    mgr.start("beta")
    assert mgr.dispatch_control_packet("s=0\na=stopsession\n", ids) == "dispatched"
    st = mgr.status()
    assert not st["alpha"]["active"] and not st["beta"]["active"]

    # unknown id ignored, trailing partial entry dropped
    assert mgr.dispatch_control_packet("s=99\na=stopsession\n", ids) == "invalid-id"
    assert mgr.dispatch_control_packet("s=1\na=startsession", ids) == "invalid-packet"
    assert mgr.dispatch_control_packet("garbage\n", ids) == "invalid-packet"
    mgr.stop()


def test_watermark_drops_too_late_events_in_append_mode(spark, tmp_path):
    """The watermark DISCIPLINE itself (G7): an event older than the
    watermark is dropped from its (already-candidate) window; a late
    but within-watermark event still lands. The other window tests run
    complete mode, where Spark keeps all state and never drops — only
    append mode exercises the state-eviction path that bounds memory
    at 100 TB, so this is the test that proves late data is handled by
    CONTRACT, not by unbounded state.

    Batch mechanics pinned here (they are the semantics): the
    watermark is max(event time seen) - delay, updated at batch END —
    so batch 2's cutoff comes from batch 1's data, and a window is
    emitted (then its state dropped) only once the watermark passes
    its end."""
    indir = tmp_path / "in"
    indir.mkdir(parents=True)
    stream = SOURCES.read_stream(
        spark, "json", str(indir.as_posix()), EVENTS_SCHEMA,
        maxFilesPerTrigger=1,
    )
    agg = tumbling_agg(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # batch 1: two on-time events; the 11:00 one advances the
        # watermark (for batch 2) to 10:50
        _write_events_json(indir, [
            {"event_id": 1, "ts": "2024-01-01 10:02:00", "user_id": 1,
             "event_type": "view", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 11:00:00", "user_id": 1,
             "event_type": "view", "value": 2.0},
        ])
        q.processAllAvailable()
        # batch 2: one event too late (10:03 < wm 10:50 -> DROPPED),
        # one late-but-inside (10:58 >= 10:50 -> counted)
        _write_events_json(indir, [
            {"event_id": 3, "ts": "2024-01-01 10:03:00", "user_id": 1,
             "event_type": "view", "value": 100.0},
            {"event_id": 4, "ts": "2024-01-01 10:58:00", "user_id": 1,
             "event_type": "view", "value": 4.0},
        ])
        q.processAllAvailable()
        # batch 3: advance event time far enough (wm -> 11:50) that
        # every earlier window finalizes and appends
        _write_events_json(indir, [
            {"event_id": 5, "ts": "2024-01-01 12:00:00", "user_id": 1,
             "event_type": "view", "value": 8.0},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        str(r["window_start"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    assert got == {
        # the too-late 100.0 event is NOT here — watermark dropped it
        "2024-01-01 10:00:00": (1, 1.0),
        # the within-watermark late event IS
        "2024-01-01 10:55:00": (1, 4.0),
        "2024-01-01 11:00:00": (1, 2.0),
        # the 12:00 window is still open (wm 11:50) -> not appended
    }


def test_near_dedup_rejects_simhash_column_collision(spark):
    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    df = spark.createDataFrame(
        [(1, "x")], "doc_id long, __simhash string"
    ).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="__simhash"):
        near_dedup_within_watermark(df, "text")


def _fp32_py(text: str) -> int:
    """Python reference of functions.text.simhash32_expr (per-token
    32-bit md5 word, per-bit majority vote over distinct tokens)."""
    import hashlib

    toks = sorted({t for t in text.split(" ") if t})
    words = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    fp = 0
    for j in range(32):
        vote = sum(1 if (w >> j) & 1 else -1 for w in words)
        if vote > 0:
            fp |= 1 << j
    return fp


def test_near_dedup_banded_catches_hamming1(spark, tmp_path):
    """Banded mode (r12, VERDICT r11 #5): Hamming-1 tolerance at state
    x2. Crafted single-token docs (a 1-token doc's 32-bit SimHash IS
    its md5 word): md5('w5711')[:8]=0xeff49095 and
    md5('w7566')[:8]=0xaff49095 differ in exactly ONE bit, inside the
    HIGH band — so their 16-bit fingerprints differ (exact mode admits
    both) while the low bands are equal (banded mode drops the
    second). A token-shuffled rewrite (Hamming-0) is caught at the
    high-band stage; an unrelated doc passes."""
    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    # pin the crafted pair before trusting it
    assert _fp32_py("w5711") ^ _fp32_py("w7566") == 0x4000_0000
    docs = [
        {"doc_id": 1, "ts": "2024-01-01 00:05:00", "text": "w5711"},
        {"doc_id": 2, "ts": "2024-01-01 00:06:00", "text": "w7566"},
        {"doc_id": 3, "ts": "2024-01-01 00:07:00",
         "text": "alpha beta gamma"},
        {"doc_id": 4, "ts": "2024-01-01 00:08:00",
         "text": "gamma beta alpha alpha"},
    ]
    indir = tmp_path / "docs_in"
    indir.mkdir(parents=True)
    for d in docs:
        with open(indir / f"b{d['doc_id']:02d}.json", "w") as f:
            f.write(json.dumps(d) + "\n")
        time.sleep(0.02)  # file-source processes in mtime order
    schema = "doc_id long, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    gate = near_dedup_within_watermark(
        stream, "text", watermark="1 hour", mode="banded"
    )
    outdir = tmp_path / "out"

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(outdir))

    q = (
        gate.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(outdir)).collect())
    assert got == [1, 3]
    # internal band columns never leak
    assert [f.name for f in gate.schema.fields] == ["doc_id", "ts", "text"]

    # exact mode ADMITS the Hamming-1 doc (different 16-bit fp) — the
    # recall delta banded mode exists for
    exact_out = tmp_path / "out_exact"
    q2 = (
        near_dedup_within_watermark(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(indir)),
            "text", watermark="1 hour", mode="exact",
        )
        .writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(str(exact_out))
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_exact"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got_exact = sorted(
        r["doc_id"] for r in spark.read.parquet(str(exact_out)).collect()
    )
    assert got_exact == [1, 2, 3]


def test_near_dedup_banded_batch_parity(spark, tmp_path):
    """The streaming banded gate ≡ the keep-first chained-band batch
    twin: replaying the same ordered corpus through a Python reference
    (register every doc's high band; low band only for high-band-fresh
    docs — admitted docs register both) yields the same admitted set.
    Seeded 24-doc corpus over a 6-token vocab plants real band
    collisions (exact rewrites, overlapping sets, distinct docs)."""
    import random

    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    rng = random.Random(12)
    vocab = ["red", "green", "blue", "cyan", "teal", "plum"]
    docs = []
    for i in range(24):
        toks = rng.sample(vocab, rng.randint(2, 4))
        docs.append(
            {"doc_id": i, "ts": f"2024-01-01 00:{i:02d}:00",
             "text": " ".join(toks)}
        )
    indir = tmp_path / "docs_in"
    indir.mkdir(parents=True)
    for d in docs:
        with open(indir / f"b{d['doc_id']:02d}.json", "w") as f:
            f.write(json.dumps(d) + "\n")
        time.sleep(0.02)
    schema = "doc_id long, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    gate = near_dedup_within_watermark(
        stream, "text", watermark="2 hours", mode="banded"
    )
    outdir = tmp_path / "out"
    q = (
        gate.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(str(outdir))
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(outdir)).collect())

    seen_hi: set[int] = set()
    seen_lo: set[int] = set()
    want = []
    for d in docs:
        fp = _fp32_py(d["text"])
        hi, lo = fp >> 16, fp & 0xFFFF
        if hi in seen_hi:
            continue
        seen_hi.add(hi)
        if lo in seen_lo:
            continue
        seen_lo.add(lo)
        want.append(d["doc_id"])
    assert got == sorted(want) and 0 < len(want) < len(docs)


def test_near_dedup_rejects_band_column_collision(spark):
    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    df = spark.createDataFrame(
        [(1, "x", "y")], "doc_id long, text string, __band_hi string"
    ).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="__band_hi"):
        near_dedup_within_watermark(df, "text", mode="banded")
    with pytest.raises(ValueError, match="unknown mode"):
        near_dedup_within_watermark(df.drop("__band_hi"), "text", mode="h1")


def test_near_dedup_collision_check_is_mode_scoped(spark):
    """ADVICE r12: only the columns the SELECTED mode writes are
    reserved — exact mode must accept a caller's __band_hi/__band_lo
    (it never writes them), banded must accept __simhash."""
    from etl_work_flow_for_big_data_spark.streaming.windows import (
        near_dedup_within_watermark,
    )

    banded_cols = spark.createDataFrame(
        [(1, "x", "y", "z")],
        "doc_id long, text string, __band_hi string, __band_lo string",
    ).withColumn("ts", F.current_timestamp())
    out = near_dedup_within_watermark(banded_cols, "text", mode="exact")
    assert {"__band_hi", "__band_lo"} <= set(out.columns)
    assert "__simhash" not in out.columns

    sim_col = spark.createDataFrame(
        [(1, "x", "y")], "doc_id long, text string, __simhash string"
    ).withColumn("ts", F.current_timestamp())
    out = near_dedup_within_watermark(sim_col, "text", mode="banded")
    assert "__simhash" in out.columns
    assert not {"__band_hi", "__band_lo"} & set(out.columns)

    with pytest.raises(ValueError, match="__simhash"):
        near_dedup_within_watermark(sim_col, "text", mode="exact")


def test_fan_out_passes_streaming_frames_through(spark):
    """catalog.fan_out probes the batch partition count, which a
    streaming frame cannot answer outside writeStream.start(); it must
    hand a stream back unchanged so the fan_out-wrapped operators
    (decode_media & co.) still build on a stream."""
    from etl_work_flow_for_big_data_spark.catalog import fan_out
    from etl_work_flow_for_big_data_spark.multimodal.columns import decode_media

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert fan_out(stream) is stream
    media = stream.select(
        F.col("value").alias("doc_id"), F.lit(b"GIF89a").alias("content")
    )
    assert decode_media(media).isStreaming

    # the batch branch is unchanged: a one-split scan still fans out
    one = spark.range(4).coalesce(1)
    assert fan_out(one).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
