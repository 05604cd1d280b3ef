"""Finite parquet streams: the one source and the one drain every
Structured Streaming operator in the engine uses.

The reference has no event-time streaming (SURVEY.md §2.10). The engine's
stream operators are written once as DataFrame plans that run on a batch
or a streaming frame; the batch plan is the oracle for the stream. What
differs between the two runs is only how the input is read and how the
result is collected, and both live here:

* :func:`parquet_stream` — a ``readStream`` over the parquet files in a
  directory that match a glob, with the schema inferred from a batch read
  of the same files (file streams need it up front) and an optional
  ``maxFilesPerTrigger`` to split the input into several micro-batches.
* :func:`drain` — runs a streaming frame to the end of its input
  (``availableNow`` trigger) into a uniquely named memory sink and returns
  the sink table as a batch frame.

A production deployment replaces :func:`drain` with a parquet/Iceberg
sink and a processing-time trigger; the operator plans stay the same.
This module imports nothing from ``operators`` so that every operator
module can import it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def parquet_stream(
    spark: SparkSession,
    path: str,
    glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming frame over the files under ``path`` matching ``glob``."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(path).schema
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def drain(stream: DataFrame, mode: str, checkpoint: str | None = None) -> DataFrame:
    """Run ``stream`` over all of its available input in output ``mode``
    (``append`` or ``complete``) and return the memory-sink table.

    ``checkpoint`` pins the checkpoint directory, for callers that read
    the state store back after the run (Spark's State Data Source).
    """
    sink = f"drain_{uuid.uuid4().hex[:12]}"
    writer = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    writer.start().awaitTermination()
    return stream.sparkSession.table(sink)
