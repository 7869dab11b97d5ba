"""Streaming sinks: content-routed fan-out with idempotent writes.

The reference's writer master demuxes packets by target type 't',
lazily creating one writer thread + queue per route
(``/root/reference/MFramework.cpp:1366-1471``), and keeps a
marker-file ledger for recovery (``:1286-1302``). The Spark analog:
``foreachBatch`` writing ``partitionBy(route)`` — routes materialize
lazily as partition directories on first occurrence, and idempotence
under checkpoint replay comes from overwriting the per-batch output
path (a replayed batch id rewrites the same directory instead of
appending duplicates — the ledger is the directory name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def route_fanout_writer(
    base_dir: str, route_col: str = "route"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: write each micro-batch as parquet under
    ``base_dir/batch_id=N/<route_col>=<value>/``. Replays overwrite their
    own batch directory → exactly-once output without a transactional
    sink."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy(route_col)
            .parquet(f"{base_dir}/batch_id={batch_id}")
        )

    return write


def start_routed_stream(
    df: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    route_col: str = "route",
    trigger_available_now: bool = True,
):
    """Start a streaming query that fans out by route with checkpointed
    exactly-once semantics (G2: checkpointLocation is the offset ledger,
    the per-batch overwrite is the output ledger)."""
    writer = (
        df.writeStream.foreachBatch(route_fanout_writer(base_dir, route_col))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
