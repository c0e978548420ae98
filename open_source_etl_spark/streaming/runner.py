"""Run a streaming DataFrame to a deterministic, inspectable result.

``Trigger.AvailableNow`` processes exactly the data present at start and
stops — the streaming analogue of a batch run, and the engine's
batch-parity harness (SURVEY.md §7 step 7).  The memory sink holds the
result for comparison; production sinks are parquet/Delta with the same
checkpoint protocol.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Ephemeral replay checkpoints go to tmpfs when available: the state
# store writes many small files per micro-batch, and these checkpoints
# are abandoned after the run (fresh one per replay), so durability buys
# nothing — measured ~25% off per-query streaming wall time.  Production
# streams put their checkpoint on durable shared storage instead; the
# recovery semantics are identical (tests/test_streaming_recovery.py).
_CHECKPOINT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None


def await_or_raise(q, timeout_sec: int) -> None:
    """Wait up to ``timeout_sec`` for ``q`` to finish.  A query still
    running then is stopped and raises ``TimeoutError`` naming it, since
    its sink holds only part of the result, chained to ``q.exception()``
    when the query recorded one.  A query that failed raises from
    ``awaitTermination`` itself."""
    q.awaitTermination(timeout_sec)
    if q.isActive:
        exc = q.exception()
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout_sec}s; stopped, its sink is partial"
        ) from exc


def run_available_now(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Execute a streaming query to completion; return the sink table.

    Each run gets a fresh checkpoint dir: the checkpoint IS the exactly-
    once ledger (source offsets + state store), so reusing one across
    logically different queries corrupts semantics.  Long-lived production
    streams keep theirs forever; these deterministic replays never should.

    ``state_partitions`` pins the stateful-operator partition count for
    the stream (restored after start): every shuffle partition owns a
    checkpointed state store, so 32 stores on a small stream is pure
    filesystem overhead, while a real deployment sizes it to key
    cardinality × executor count.  Results are partition-count-invariant.
    """
    spark: SparkSession = df.sparkSession
    checkpoint = tempfile.mkdtemp(
        prefix=f"osetl-stream-{name}-", dir=_CHECKPOINT_BASE
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, timeout_sec)
    finally:
        # restore only after the stream finished: micro-batches are
        # planned lazily, so restoring right after start() would race
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # the checkpoint is ephemeral by design (fresh one per replay) and
        # lives on RAM-backed tmpfs — leaking state-store micro-batch files
        # across a full bench/test session would exhaust /dev/shm
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)
