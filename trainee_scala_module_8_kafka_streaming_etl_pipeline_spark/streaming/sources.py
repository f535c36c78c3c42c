"""Streaming sources (reference S5/S7).

The reference declares streams over Kafka topics with Avro schemas from
Schema Registry and ``auto.offset.reset=earliest``
(/root/reference/README.md:346, 396-400).  Two source forms here:

- ``file_stream``: the broker-free stand-in (SURVEY.md §7.2 phase 1) —
  a directory of parquet/json files is the topic, file arrival order is
  offset order, and the checkpoint's processed-file log plays the
  consumer offset (a restarted query resumes exactly after the last
  processed file; a fresh checkpoint replays from the beginning =
  ``earliest``).
- ``kafka_source_options``: the exact option surface a real Kafka
  deployment swaps in (``subscribe``, ``startingOffsets``); kept as a
  builder because this container ships no Kafka broker or connector jar.

Every streaming query in the package starts through ``start_query`` (or
its run-to-completion form ``run_query``), which sizes the query's
state from the bytes of the paths it reads.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from ..session import input_width, start_confs


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous stream over a growing directory of files.

    ``max_files_per_trigger`` bounds micro-batch size the way
    ``maxOffsetsPerTrigger`` does for Kafka — at scale it is the
    backpressure knob that keeps state-store updates amortized.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def source_bytes(sources: str | Sequence[str]) -> int:
    """Bytes a stream reads from ``sources``: each path is a directory
    (every file under it), a single file, or a glob such as
    ``…/events.parque[t]`` (each match counted the same way)."""
    paths = [sources] if isinstance(sources, str) else sources
    total = 0
    for path in (p for pattern in paths for p in glob.glob(pattern)):
        if os.path.isdir(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            total += os.path.getsize(path)
    return total


def start_query(
    spark: SparkSession, writer: DataStreamWriter, sources: str | Sequence[str]
) -> StreamingQuery:
    """Start ``writer`` as an ``availableNow`` query with
    ``spark.sql.shuffle.partitions`` = ``input_width`` of the bytes of
    ``sources`` (the paths the query reads), scoped to the ``start()``
    call; the caller's session confs are left as they were found.

    The width is set on every start: a fresh checkpoint records it as
    the query's state-store partition count for good, and on a restart
    Spark takes that count from the checkpoint for the stateful
    operators only — the query's other shuffles, its ``foreachBatch``
    merges included, run at the width of this start."""
    width = input_width(spark, source_bytes(sources))
    with start_confs(spark, {"spark.sql.shuffle.partitions": str(width)}):
        return writer.trigger(availableNow=True).start()


def run_query(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    sources: str | Sequence[str],
    state_dir: str,
) -> None:
    """Run ``sink`` on each micro-batch of ``stream_df`` (``foreachBatch``)
    through ``start_query``, with the checkpoint at ``<state_dir>/_ckpt``,
    and wait until everything available in ``sources`` is processed.

    Update output mode: a stateful operator hands the sink each batch's
    changed rows; for a stateless query it is the same as append."""
    writer = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
    )
    start_query(stream_df.sparkSession, writer, sources).awaitTermination()


def kafka_source_options(
    topic: str,
    brokers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """Option dict for ``spark.readStream.format("kafka")`` mirroring the
    reference's consumer config: ``subscribe`` = the CDC topic
    (README.md:397, 411, 422), ``startingOffsets='earliest'`` =
    ``SET 'auto.offset.reset'='earliest'`` (README.md:346)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_stream(spark: SparkSession, topic: str, **overrides: str) -> DataFrame:
    """Kafka source (requires the spark-sql-kafka connector jar on the
    classpath; not bundled in this container — use :func:`file_stream`
    for local runs)."""
    opts = kafka_source_options(topic)
    opts.update(overrides)
    reader = spark.readStream.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()
