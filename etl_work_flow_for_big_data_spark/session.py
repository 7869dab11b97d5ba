"""SparkSession construction and per-session tuning.

The reference boots via ``MFramework::Run`` (``MFramework.cpp:89``,
config load at ``:438-647``); our analog is one ``SparkSession`` with
scale-oriented defaults. Tests run ``local[*]``; the same settings are
what we'd ship on a 1000-executor cluster (AQE, skew handling,
partition coalescing are cluster-size-agnostic).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Static (pre-JVM) configs — only apply when WE create the session.
_BUILDER_CONF = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    # saveAsTable target for bucketed tables (static conf; kept out of
    # the repo tree)
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
    ),
}

#: Runtime configs — safe to set on ANY session, including the
#: driver-owned one handed to ``queries()`` callables.
_RUNTIME_CONF = {
    # Deterministic timestamp semantics matching the DuckDB oracle
    # (naive parquet timestamps == UTC wall time).
    "spark.sql.session.timeZone": "UTC",
    # Spark has no ns-precision timestamp type; read TIMESTAMP(NANOS)
    # parquet columns as raw long nanos (catalog.load_table converts
    # to µs timestamps losslessly via integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read naive parquet timestamps (isAdjustedToUTC=false) as
    # session-tz TIMESTAMP instead of TIMESTAMP_NTZ. With the UTC
    # session zone above the values are identical to the oracle's naive
    # reading, every timestamp function/cast stays legal (NTZ forbids
    # e.g. cast-to-double), and scans keep full predicate pushdown —
    # no per-column normalization cast needed in the catalog.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # DataMap wire packets allow duplicate keys (multimap); the map
    # projection keeps the LAST occurrence (functions/packets.py).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.adaptive.enabled": "true",
    # Broadcast all the TPC-H-ish dims without hinting; explicit
    # broadcast() hints are still used on every dim join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Right-size shuffles for the local harness (a driver-owned session
    # defaults to 200 — pure scheduling overhead at these SFs); AQE
    # coalescing still shrinks further at runtime. On a real cluster
    # the launcher overrides this to ~2-3x total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}


#: The runtime confs a parquet table read depends on: the two that fix
#: how footer timestamps are typed, and the session zone the NTZ→
#: TIMESTAMP cast uses. ``catalog.load_table`` sets only these, so a
#: caller's shuffle, AQE and broadcast settings survive a table load.
READ_CONF = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _apply(spark: SparkSession, keys) -> SparkSession:
    for k in keys:
        try:
            spark.conf.set(k, _RUNTIME_CONF[k])
        except Exception:  # non-runtime conf on this build — skip
            pass
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours)."""
    return _apply(spark, _RUNTIME_CONF)


def tune_reads(spark: SparkSession) -> SparkSession:
    """Apply only the ``READ_CONF`` subset of the runtime confs."""
    return _apply(spark, READ_CONF)


def get_spark(app_name: str = "spark-graft", master: str | None = None) -> SparkSession:
    """Create (or fetch) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests/bench;
    on a real cluster the launcher sets master externally.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in _BUILDER_CONF.items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())
