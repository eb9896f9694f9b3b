"""Structured Streaming wrapper: event-log file stream → foreachBatch apply.

The streaming shape of the replay engine (SURVEY.md §7 step 4): the file
source tails the chunked event log the way the reference's dump goroutine
tails the binlog (/root/reference/Bristol/mysql/conn_dump.go:97-299); Spark's
checkpoint replaces the LevelDB position store for SOURCE offsets
(/root/reference/server/storage.go:52-128), and the TargetTable commit
manifest makes the SINK exactly-once even if the checkpoint is wiped —
``foreachBatch`` is only at-least-once on its own.

On a real deployment the source line changes to
``spark.readStream.format("kafka")`` + the format decoders in
bifrost_spark/sources/kafka_formats.py; everything downstream is identical.

Ordering: the file source does NOT guarantee event-log chunk order, so the
engine always runs with ``ordered=False`` (a high-water-mark skip would drop
older events a later file delivers) — correctness comes from the commutative
tombstone/guard MERGE + manifests, not from a high-water-mark skip.  DML is
safe in any batch order; DDL events are assumed in-order relative to the DML
they affect (a Kafka source with a single control partition, or the chunked
batch driver, provides this; it is the same assumption the reference makes
by serializing DDL through its single dump thread).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.pipelines.replay import ReplayEngine
from bifrost_spark.schemas import EVENT_SCHEMA


def start_cdc_stream(
    spark: SparkSession,
    log_path: str,
    table: TargetTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    auto_compact_snapshots: int | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Start the stream; every commit it makes leaves its record in the
    table's ``lineage()``, written by the commit itself."""
    engine = ReplayEngine(table, ordered=False,
                          auto_compact_snapshots=auto_compact_snapshots)
    # NB: StructType.add mutates in place — build a copy, never touch the
    # shared EVENT_SCHEMA.
    stream_schema = T.StructType(list(EVENT_SCHEMA.fields) + [T.StructField("chunk", T.StringType())])
    events = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(log_path)
        .drop("chunk")
    )
    return start_engine_stream(events, engine, checkpoint_dir, query_name=query_name,
                               available_now=available_now)


def start_engine_stream(
    events: DataFrame,
    engine: ReplayEngine,
    checkpoint_dir: str,
    query_name: str | None = None,
    available_now: bool = True,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """The one stream wiring, whatever the source: every micro-batch of the
    EVENT_SCHEMA stream ``events`` goes through ``engine.apply_batch`` and
    its maintenance in ``foreachBatch``.  ``available_now`` drains what is
    there and stops; otherwise ``trigger_seconds`` sets a processing-time
    trigger (None: Spark's default, next batch as soon as one is done)."""

    def _apply(batch_df, epoch_id: int):  # noqa: ANN001
        engine.apply_batch(batch_df)
        engine.maybe_maintain()

    writer = events.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint_dir)
    if query_name is not None:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
