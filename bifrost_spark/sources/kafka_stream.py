"""Live Kafka source wiring — S6's ``readStream.format("kafka")`` line.

The format decoders (sources/kafka_formats.py) are the S6 semantics; this
module is the missing connection: it builds the actual Kafka streaming
reader with the reference's consumer options mapped to the Spark connector's
(/root/reference/input/kafka/input.go NewKafkaInput + config keys,
/root/reference/input/kafka/kafka_consume.go consumer-group loop), decodes
``value`` with the chosen format, and hands the canonical EVENT_SCHEMA
stream to the same ``foreachBatch`` engine the file stream uses.

The Kafka connector jar does NOT ship in this sandbox (and is not part of a
plain pyspark install), so the reader raises a clear, actionable error when
the data source is missing instead of Spark's bare "Failed to find data
source".  Deploy line::

    spark-submit \
      --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
      --py-files bifrost_spark.zip your_job.py

Option plumbing (``build_kafka_options``) is a pure function, unit-tested
without the jar (tests/test_kafka_stream.py); the end-to-end twin that CAN
run in-sandbox is the chunked-file stream in tests/test_streaming.py, which
exercises the identical decode → engine path.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from bifrost_spark.sources.kafka_formats import (
    CustomerJsonConfig,
    decode_bifrost_json,
    decode_canal_json,
    decode_customer_json,
    decode_debezium_json,
    decode_string,
)

#: format name → decoder over (topic, partition, offset, timestamp, value)
DECODERS = {
    "bifrost": decode_bifrost_json,
    "canal": decode_canal_json,
    "debezium": decode_debezium_json,
    "customer_json": decode_customer_json,
    "string": decode_string,
}

KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2"


def build_kafka_options(
    bootstrap_servers: str,
    *,
    subscribe: str | None = None,
    subscribe_pattern: str | None = None,
    assign: str | None = None,
    group_id: str | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
    extra: dict[str, Any] | None = None,
) -> dict[str, str]:
    """Connector options from the reference's consumer config surface.

    Mapping (reference input/kafka/input.go config → Spark option):
    - broker list → ``kafka.bootstrap.servers``
    - topics list → exactly one of ``subscribe`` (comma list),
      ``subscribePattern`` (the reference's topic regex mode), or
      ``assign`` (explicit partitions JSON)
    - consumer group → ``kafka.group.id`` (Spark manages offsets itself via
      the checkpoint; the group id is for broker-side quota/ACL accounting,
      same caveat as the connector docs)
    - initial position → ``startingOffsets`` ("earliest"/"latest"/JSON) —
      the reference's offset bootstrap; RESUME positions come from the
      Spark checkpoint, exactly as the reference resumes from its LevelDB
      position store, with the TargetTable manifest making redelivery safe
    - flow control → ``maxOffsetsPerTrigger`` (the reference's queue bound)
    - ``failOnDataLoss=false`` mirrors the reference's skip-and-log default
      for expired offsets (to_server_consume.go not-must-success mode);
      pass True for must-success semantics.
    """
    chosen = [k for k, v in
              (("subscribe", subscribe), ("subscribePattern", subscribe_pattern),
               ("assign", assign)) if v]
    if len(chosen) != 1:
        raise ValueError(
            f"exactly one of subscribe/subscribe_pattern/assign required, got {chosen or 'none'}"
        )
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(bool(fail_on_data_loss)).lower(),
    }
    if subscribe:
        opts["subscribe"] = subscribe
    if subscribe_pattern:
        opts["subscribePattern"] = subscribe_pattern
    if assign:
        opts["assign"] = assign
    if group_id:
        opts["kafka.group.id"] = group_id
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(int(max_offsets_per_trigger))
    for k, v in (extra or {}).items():
        opts[str(k)] = str(v)
    return opts


def kafka_event_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    *,
    format: str = "bifrost",
    customer_json_config: CustomerJsonConfig | None = None,
    **option_kwargs: Any,
) -> DataFrame:
    """Streaming EVENT_SCHEMA DataFrame from a live Kafka topic: connector
    reader → (topic, partition, offset, timestamp, value) projection → S6
    format decoder.  Raises a jar-install hint when the connector data
    source is absent (this sandbox)."""
    if format not in DECODERS:
        raise ValueError(f"unknown kafka format {format!r}; one of {sorted(DECODERS)}")
    opts = build_kafka_options(bootstrap_servers, **option_kwargs)
    reader = spark.readStream.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:  # AnalysisException: DATA_SOURCE_NOT_FOUND
        if "kafka" in str(e).lower() and ("find" in str(e).lower() or "not found" in str(e).lower()):
            raise RuntimeError(
                "the Spark Kafka connector is not on the classpath; launch with "
                f"`spark-submit --packages {KAFKA_PACKAGE}` (or add the jar to "
                "spark.jars.packages before session start)"
            ) from e
        raise
    projected = raw.selectExpr(
        "topic", "partition", "offset", "timestamp", "CAST(value AS STRING) AS value"
    )
    if format == "customer_json":
        return decode_customer_json(projected, customer_json_config)
    return DECODERS[format](projected)


def start_kafka_cdc_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    table,
    checkpoint_dir: str,
    *,
    format: str = "bifrost",
    customer_json_config: CustomerJsonConfig | None = None,
    auto_compact_snapshots: int | None = None,
    query_name: str | None = None,
    available_now: bool = False,
    trigger_seconds: float | None = None,
    **option_kwargs: Any,
):
    """The live-deployment twin of ``streaming.job.start_cdc_stream``: Kafka
    reader + S6 decode + the same ReplayEngine ``foreachBatch`` apply with
    exactly-once via the TargetTable manifest.  ``ordered=False`` always —
    Kafka guarantees order per partition only, which is precisely the regime
    the commutative tombstone/guard merge was built for (operators/merge.py
    module docstring)."""
    from bifrost_spark.pipelines.replay import ReplayEngine
    from bifrost_spark.streaming.job import start_engine_stream

    events = kafka_event_stream(
        spark, bootstrap_servers, format=format,
        customer_json_config=customer_json_config, **option_kwargs,
    )
    engine = ReplayEngine(table, ordered=False,
                          auto_compact_snapshots=auto_compact_snapshots)
    return start_engine_stream(events, engine, checkpoint_dir, query_name=query_name,
                               available_now=available_now, trigger_seconds=trigger_seconds)
