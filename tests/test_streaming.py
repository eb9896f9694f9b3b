"""Structured Streaming wrapper (SURVEY.md §7 step 4): file-stream replay
reaches the same final state as batch replay; checkpoint wipe + rerun stays
exactly-once thanks to the TargetTable manifest."""

from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.streaming.job import start_cdc_stream

CFG = GeneratorConfig(
    n_events=2500, n_keys=250, n_repos=20, seed=31, snapshot_keys=100,
    ddl=[(1200, "ALTER TABLE code.repos ADD COLUMN stars INT")],
)


def test_streaming_replay_and_checkpoint_wipe(spark, tmp_path):
    events = generate_events(spark, CFG)
    snap = generate_snapshot(spark, CFG)
    log = str(tmp_path / "log")
    write_event_log(events, log, n_chunks=5)
    expected = sequential_apply(events.toPandas(), snap.toPandas())

    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(snap)
    q = start_cdc_stream(spark, log, table, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    q.awaitTermination(300)

    table = TargetTable(spark, table.path)
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    # FULL frame equality, not just content shas: the unordered file stream
    # can apply post-DDL events before the DDL barrier — their DDL-added
    # column values must survive in the rows' extra map (regression: they
    # used to be silently dropped, visible only off the sha'd columns).
    assert expected.equals(actual[expected.columns.tolist()])
    n_applied = len(table.lineage())

    # wipe the checkpoint → Spark replays ALL files with the SAME slicing:
    # every batch_id repeats → manifest skips, zero new commits
    q2 = start_cdc_stream(spark, log, table, str(tmp_path / "ckpt2"), max_files_per_trigger=2)
    q2.awaitTermination(300)
    table = TargetTable(spark, table.path)
    assert content_sha_map(table.to_pandas_sorted()) == content_sha_map(expected)
    assert len(table.lineage()) == n_applied  # zero new commits

    # replay again with DIFFERENT slicing (batch_ids differ → re-merge):
    # the commutative tombstone/guard merge keeps the state identical
    q3 = start_cdc_stream(spark, log, table, str(tmp_path / "ckpt3"), max_files_per_trigger=3)
    q3.awaitTermination(300)
    table = TargetTable(spark, table.path)
    assert content_sha_map(table.to_pandas_sorted()) == content_sha_map(expected)


def test_streaming_auto_compact_preserves_extras(spark, tmp_path):
    """Auto-compaction BETWEEN unordered micro-batches must not lose
    extra-map values that are waiting for their DDL barrier: the
    compaction rewrite happens while the table's schema version lags the
    data, so those values are not yet columns of any read."""
    events = generate_events(spark, CFG)
    snap = generate_snapshot(spark, CFG)
    log = str(tmp_path / "log")
    write_event_log(events, log, n_chunks=5)
    expected = sequential_apply(events.toPandas(), snap.toPandas())

    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(snap)
    q = start_cdc_stream(spark, log, table, str(tmp_path / "ckpt"),
                         max_files_per_trigger=1, auto_compact_snapshots=2)
    q.awaitTermination(300)

    table = TargetTable(spark, table.path)
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    assert expected.equals(actual[expected.columns.tolist()])


def test_stream_metrics_recorded(spark, tmp_path):
    """Every micro-batch's merges leave their records in the table's
    lineage, written by the commit itself — so they are complete once the
    query terminates: the merge records' ops sum to the log's data-event
    count."""
    events = generate_events(spark, CFG)
    snap = generate_snapshot(spark, CFG)
    log = str(tmp_path / "log")
    write_event_log(events, log, n_chunks=5)
    n_data = events.filter("event_type IN ('insert', 'update', 'delete')").count()

    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(snap)
    q = start_cdc_stream(spark, log, table, str(tmp_path / "ckpt"), max_files_per_trigger=4)
    q.awaitTermination(300)

    recs = TargetTable(spark, table.path).lineage()
    merges = [r for r in recs if r["kind"] == "merge"]
    assert sum(r["n_ops"] for r in merges) == n_data
    assert len(merges) >= 2 and all(r["wall_ms"] > 0 for r in merges)
    assert len({r["batch_id"] for r in merges}) == len(merges)
    assert [r["kind"] for r in recs].count("ddl") == 1


def test_canal_kafka_stream_into_engine(spark, tmp_path):
    """Round-2 gap #3 closed: a LIVE S6 path — Kafka-connector-shaped
    micro-batches (topic/partition/offset/key/value/timestamp) carrying
    canal JSON, decoded by decode_canal_json inside a readStream →
    foreachBatch → ReplayEngine pipeline into TargetTable.  Only the source
    line differs from a broker deployment (file stream standing in for
    format("kafka") — the connector jar is absent here); decoder, envelope,
    merge, and manifests are the production path.  Final state must equal
    the sequential-apply oracle of the ORIGINAL events, proving the
    encode→wire→decode→merge loop is lossless under arbitrary file order."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bifrost_spark.pipelines.replay import ReplayEngine
    from bifrost_spark.sinks.messages import encode_canal_json
    from bifrost_spark.sources.kafka_formats import decode_canal_json

    cfg = GeneratorConfig(n_events=3000, n_keys=300, n_repos=20, seed=13, snapshot_keys=0)
    events = generate_events(spark, cfg)
    expected = sequential_apply(events.toPandas())

    # broker-shaped frame: offset carries the binlog order (what a real
    # canal deployment guarantees per partition)
    kafka = events.select(
        F.lit("canal_code_repos").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.lit(None).cast("string").alias("key"),
        encode_canal_json(events).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    wire_dir = str(tmp_path / "wire")
    kafka.repartitionByRange(4, "offset").write.parquet(wire_dir)

    kafka_schema = T.StructType([
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ])
    stream = (
        spark.readStream.schema(kafka_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(wire_dir)
    )
    decoded = decode_canal_json(stream)

    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    engine = ReplayEngine(table, ordered=False)  # file order is arbitrary

    q = (
        decoded.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, _eid: engine.apply_batch(df))
        .start()
    )
    q.awaitTermination(300)

    table = TargetTable(spark, table.path)
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    assert expected.equals(actual[expected.columns.tolist()])
