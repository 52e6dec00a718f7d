"""Streaming sinks: memory-table runner and exactly-once foreachBatch.

T2's contract (outputs first, state commit last, atomic rename —
/root/reference/src/rabbit.js:51-61, src/utility.js:94-103) maps to an
idempotent ``foreachBatch``: Spark may re-deliver a batch after a crash,
so the sink must make re-processing a no-op. Batch-id markers published
through ``ingest.sinks.atomic_open`` give exactly-once output for any deterministic batch
function.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..ingest.sinks import write_file_atomically


def run_available_now_to_memory(
    stream_df: DataFrame, output_mode: str, timeout_s: int = 300
) -> DataFrame:
    """Drain a bounded stream (Trigger.AvailableNow) into an in-memory
    table and return it as a batch DataFrame.

    AvailableNow processes everything currently in the source then stops —
    the streaming plan (watermarks, state store, incremental execution) is
    fully exercised, with a deterministic end. This is the test/driver
    harness path; production queries use the parquet/foreachBatch sinks.

    SINGLE-OUTSTANDING-RESULT CONTRACT: each drain drops the PREVIOUS
    drain's backing temp view (memory-sink tables otherwise pin driver
    memory for the whole session), and the returned DataFrame is LAZY
    over that view — so consume (collect/write) each result before the
    next drain in the same session, or it fails at action time with
    TABLE_OR_VIEW_NOT_FOUND.  A query that must compose two drained
    streams (drain A, drain B, then join them) must materialize the
    first result before the second drain — e.g. ``a = drain(...).
    localCheckpoint(eager=True)``.
    """
    spark = stream_df.sparkSession
    # Memory-sink tables live for the session: without cleanup every
    # drained result stays pinned in driver memory forever.  Keep at
    # most ONE outstanding table per session — the previous call's
    # result has been consumed by the time the next query runs (the
    # catalog/driver contract), so its view drops here.
    prev = getattr(spark, "_mdi_memory_sink_view", None)
    if prev is not None:
        spark.catalog.dropTempView(prev)
    name = "st_" + uuid.uuid4().hex
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"stream {name} did not drain in {timeout_s}s")
    finally:
        if q.isActive:  # pragma: no cover - only on timeout
            q.stop()
    spark._mdi_memory_sink_view = name
    return spark.table(name)


class IdempotentForeachBatch:
    """Exactly-once batch sink: write outputs, then commit a batch marker
    atomically; a re-delivered batch id is skipped entirely.

    Commit ordering is the reference's (output first, marker last): a crash
    between the two re-runs the batch, which is safe because the output
    write must itself be idempotent (overwrite of a batch-keyed location —
    the pattern ``ingest/sinks.py`` uses for partition overwrites).
    """

    def __init__(self, commit_dir: str, write_fn: Callable[[DataFrame, int], None]):
        self.commit_dir = commit_dir
        self.write_fn = write_fn
        os.makedirs(commit_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{batch_id}.committed")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0 and any(
            f.endswith(".committed") and f != "0.committed"
            for f in os.listdir(self.commit_dir)
        ):
            # Batch ids restarted at 0 while markers from higher batches
            # exist: the CHECKPOINT was reset but the commit dir kept —
            # every batch would silently skip as "already committed",
            # completing a stream that wrote nothing.  The two dirs
            # share one lifecycle; reset them together.
            raise ValueError(
                "commit markers from a previous run exist but batch ids "
                "restarted at 0 — the checkpoint was reset without its "
                f"commit dir ({self.commit_dir}); clear both together"
            )
        if self.is_committed(batch_id):
            return
        self.write_fn(batch_df, batch_id)
        write_file_atomically(self._marker(batch_id), b"ok")


def foreach_batch_query(
    stream_df: DataFrame,
    sink: IdempotentForeachBatch,
    checkpoint_dir: str,
):
    """Wire a stream through the idempotent sink with a checkpoint — the
    full exactly-once loop (source offsets in the checkpoint, output
    idempotence in the sink)."""
    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
