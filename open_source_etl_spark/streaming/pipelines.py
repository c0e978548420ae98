"""The reference ingestion DAG as a *continuous* pipeline.

The reference polls S3 with a sensor, copies files, and re-registers an
external table per run (`dags/ingest_bundesliga_match_scores.py:54-67,
130-143`).  The streaming restatement collapses sense+list+copy into one
declaration: the file source discovers new CSVs (the sensor), the
partitioned parquet sink lands them date-partitioned (the copy+layout),
and the checkpoint remembers what was processed (the metadata table's
bookkeeping role).  ``Trigger.AvailableNow`` gives the batch-like "drain
what's there and stop" mode; a real deployment runs the same code with a
processing-time trigger.

Scale: file discovery is incremental (listing cost bounded by NEW files,
vs the reference re-listing the prefix every 30 s); the write is
executor-parallel and partition-pruned for every downstream reader.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..ingest.partitioner import partition_columns
from .runner import await_or_raise


def stream_csv_to_partitioned_parquet(
    spark: SparkSession,
    source_dir: str,
    landing_path: str,
    schema: StructType,
    date_column: str = "date",
    timeout_sec: int = 300,
) -> DataFrame:
    """Continuously land CSVs date-partitioned; returns the landed data.

    The schema is explicit (streaming sources require one — the catalog
    tier of the reference's two-tier resolution, SURVEY.md §1.3); the
    date partition columns derive from file *content*, not arrival time,
    so replays land identically.
    """
    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(source_dir)
    )
    parted = src.select("*", *partition_columns(F.to_date(F.col(date_column))))
    checkpoint = tempfile.mkdtemp(prefix="osetl-ingest-ckpt-")
    q = (
        parted.writeStream.format("parquet")
        .option("path", landing_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, timeout_sec)
    return spark.read.parquet(landing_path)


def stream_upsert_partitions(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema: StructType,
    checkpoint: str,
    date_column: str = "date",
    timeout_sec: int = 300,
) -> None:
    """Incremental partition upsert: each micro-batch of newly arrived
    CSVs OVERWRITES exactly the date partitions it carries (dynamic
    partition overwrite inside ``foreachBatch``), leaving sibling
    partitions untouched.

    This is the reference's re-run semantics (re-land one dated
    partition, `dags/…:80-143`) made continuous and exactly-once: the
    caller-owned checkpoint remembers which files were already
    processed, so re-invoking after new files arrive processes ONLY the
    delta — the metadata table's bookkeeping role, held by the engine.
    ``foreachBatch`` is the batch-sink escape hatch: any DataFrame
    writer becomes a streaming sink with replay protection.
    """
    from ..sources import overwrite_partitions

    src = spark.readStream.schema(schema).option("header", "true").csv(source_dir)
    parted = src.select("*", *partition_columns(F.to_date(F.col(date_column))))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch_df, store_path, ["year", "month", "day"])

    q = (
        parted.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, timeout_sec)
