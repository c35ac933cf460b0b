"""Streaming sinks beyond the built-ins: foreachBatch integration.

`foreachBatch` is the idiomatic escape hatch for sinks Structured
Streaming doesn't ship natively (upserts, multi-table writes, JDBC).
The micro-batch is handed over as a plain DataFrame, so arbitrary batch
writers run per trigger; Spark retries a failed batch with the same
`batch_id`, so the writer must be idempotent on (sink, batch_id) for
exactly-once output — here achieved by writing each batch to its own
`batch_id=N` subdirectory with overwrite semantics (a retry replaces the
partial directory instead of appending duplicates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from duckdb_graphar_spark.streaming.ops import _drive_stream


def foreach_batch_parquet_sink(
    stream_df: DataFrame, out_dir: str, *, checkpoint: str | None = None
) -> None:
    """Drive a (finite) stream into parquet via foreachBatch, one
    `batch_id=N` partition directory per micro-batch, overwrite-per-batch
    for idempotent retries.  Blocks until all available input is
    processed, then stops the query (the drive is
    :func:`~duckdb_graphar_spark.streaming.ops._drive_stream`, so the
    stream's plan sizes its shuffle partitions)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    def sink(writer: DataStreamWriter) -> DataStreamWriter:
        writer = writer.foreachBatch(write_batch)
        return writer.option("checkpointLocation", checkpoint) if checkpoint else writer

    _drive_stream(stream_df, sink, mode="append")


def read_parquet_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back everything a `foreach_batch_parquet_sink` run wrote
    (the batch_id partitioning is an implementation detail — drop it)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
