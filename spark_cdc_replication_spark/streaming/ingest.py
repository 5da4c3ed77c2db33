"""Structured-Streaming raw ingest (reference stage 1).

Reference: Kafka source with ``trigger(once=True)`` + ``foreachBatch``
appending ORC files (``/root/reference/pipelines/raw_data_handler.py:30-66``).
Two fixes, per SURVEY.md §2.10:

* ``trigger(availableNow=True)`` — the modern bounded-batch trigger
  (``once`` is deprecated and reads at most one micro-batch).
* **native partitioned file sink** instead of ``foreachBatch`` — the
  reference's batch body is a stateless append, and a plain file-sink
  append inside ``foreachBatch`` double-writes when a batch retries;
  the native file sink commits files transactionally per epoch
  (exactly-once on restart from the same checkpoint).

The stream also parses each payload ONCE, with the registry schema,
and lands it next to the JSON it came from: the sink writes the raw
layout ``(timestamp, value, payload, op_year, op_month, op_day)`` of
:mod:`..sources.raw` (:func:`~..sources.raw.landing_projection`).  The
reference's ORC raw layer holds only the JSON, which every later read
parses again; here the parse happens in the landing micro-batch and
every read of the layer gets typed columns.  ``value`` is kept
verbatim, so a field the registry did not yet know is recoverable by
re-landing.  Roots landed in the JSON-only layout must be re-landed;
the stream refuses to land into one.

The source is pluggable: anything that yields ``(timestamp, value)``
— ``spark.readStream.format("kafka")…`` in production (options as in
``raw_data_handler.py:36-44``), a file stream in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.cdc_parse import decode_envelope
from ..sources.raw import (
    PARTITION_COLS,
    landing_projection,
    require_raw_layout,
    with_partition_cols,
)


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka CDC topic -> streaming ``(timestamp, value)`` frame.

    Mirrors the reference source options (``raw_data_handler.py:36-44``)
    minus the eager ``repartition(N)`` (``:46``) — AQE and
    ``maxOffsetsPerTrigger`` govern parallelism instead.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    return decode_envelope(reader.load())


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str = "timestamp timestamp, value string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Test-friendly envelope source: a directory of parquet files with
    the same ``(timestamp, value)`` shape as the Kafka topic.

    ``max_files_per_trigger`` is the file-source backpressure knob —
    the counterpart of Kafka's ``maxOffsetsPerTrigger``: bounds each
    micro-batch so one availableNow catch-up run over a large backlog
    becomes many bounded epochs instead of one unbounded one."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def land_stream(
    envelope: DataFrame,
    payload_schema: StructType,
    data_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """Land a CDC envelope stream into the partitioned raw layer.

    Append mode, checkpointed, bounded by ``availableNow`` — run it on
    a schedule exactly like the reference's hourly Airflow trigger
    (``cdc_ingestion_dag.py:20``), or pass ``available_now=False`` for
    a continuous stream.  ``payload_schema`` is the registry schema
    each payload is parsed with on its way in.  A root that already
    holds JSON-only files is refused before the stream starts, so the
    two layouts never mix (:func:`~..sources.raw.require_raw_layout`).
    """
    require_raw_layout(envelope.sparkSession, data_dir, fmt)
    writer = (
        with_partition_cols(landing_projection(decode_envelope(envelope), payload_schema))
        .writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", data_dir)
        .partitionBy(*PARTITION_COLS)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
