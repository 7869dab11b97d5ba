"""Spans and Spark task metrics for the traced run.

A span records ``(id, name, start, end, parent, run)`` around one call
the benchmark makes into a module of the package. Spans are kept in
memory and written to ``spans-<workload>-<seed>.json`` in the work
directory when the run ends. While a span is open its id is the Spark
job group of the calling thread, so every job the call triggers is
attributed to it; streaming jobs carry their query's run id and batch
id instead. Task metrics come from the Spark event log, which only the
traced run enables.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid


class Tracer:
    def __init__(self, spark=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True, **attrs):
        """Record a span; with ``group`` its id is the calling thread's
        Spark job group while it is open. Pass ``group=False`` inside a
        streaming ``foreachBatch`` callback, whose jobs already carry
        their query's run id."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next += 1
            sid = f"{self.run_id}-{self._next}"
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id, "thread": threading.get_ident(), **attrs}
        stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None and group else None
        if sc is not None:
            sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                if stack:
                    sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str, spark_by_span: dict | None = None) -> None:
        out = []
        for s in sorted(self.spans, key=lambda r: r["start"]):
            rec = dict(s)
            if spark_by_span and s["id"] in spark_by_span:
                rec["spark"] = spark_by_span[s["id"]]
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


SPARK_KEYS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "python_s")
#: SQL metric of the Python-evaluating operators (Arrow UDFs,
#: mapInPandas/mapInArrow), in milliseconds per task.
PYTHON_TIME = "time to run Python workers"


def spark_metrics(event_log: str) -> dict[str, dict]:
    """Sum task metrics per job group from one uncompressed event log
    file. Jobs of a streaming micro-batch are keyed ``<job group>:<batch
    id>`` (a streaming query's job group is its run id); jobs without a
    group are keyed ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(SPARK_KEYS, 0))

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if props.get("streaming.sql.batchId") is not None:
                    group = f"{group}:{props['streaming.sql.batchId']}"
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                acc(group)["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                a = acc(stage_group.get(ev.get("Stage ID")))
                a["tasks"] += 1
                a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                for item in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if item.get("Name") == PYTHON_TIME:
                        a["python_s"] += int(item.get("Update") or 0) / 1000.0
    return out


def sum_spark(groups: dict[str, dict], span_ids) -> dict[str, float]:
    tot = dict.fromkeys(SPARK_KEYS, 0)
    for sid in span_ids:
        for k, v in groups.get(sid, {}).items():
            tot[k] += v
    return tot
