"""Stateful streaming flow counters: totals accumulate ACROSS micro-batches
(operator state), survive a checkpointed restart, and reconcile with the
batch table_counts aggregation."""

import glob
import os

from pyspark.sql import functions as F

from bifrost_spark.generator import GeneratorConfig, generate_events, write_event_log
from bifrost_spark.operators.counters import table_counts
from bifrost_spark.streaming.flow_state import start_flow_counter_stream


def _setup(spark, tmp_path, n_events=4000):
    cfg = GeneratorConfig(n_events=n_events, n_keys=500, n_repos=10, seed=13)
    events = generate_events(spark, cfg)
    log = str(tmp_path / "log")
    write_event_log(events, log, n_chunks=4, files_per_chunk=2)
    return events, log


def test_totals_accumulate_across_batches_and_match_batch_agg(spark, tmp_path):
    events, log = _setup(spark, tmp_path)
    out = str(tmp_path / "counters")
    q = start_flow_counter_stream(spark, log, out, str(tmp_path / "ckpt"),
                                  max_files_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    n_epochs = got.select("epoch").distinct().count()
    assert n_epochs > 1, "expected multiple micro-batches (state must carry over)"
    # the LAST epoch's running totals == the batch aggregation over everything
    last = got.orderBy(F.desc("epoch")).limit(1).collect()[0]
    bc = {r["event_type"]: r["n"] for r in table_counts(events).collect()}
    assert last["total_inserts"] == bc.get("insert", 0)
    assert last["total_updates"] == bc.get("update", 0)
    assert last["total_deletes"] == bc.get("delete", 0)
    assert last["total_events"] == sum(bc.values())
    # totals are monotone across epochs (true running state, not per-batch)
    totals = [r["total_events"] for r in got.orderBy("epoch").collect()]
    assert totals == sorted(totals)
    assert last["max_event_id"] == events.filter(
        F.col("event_type") != "ddl").agg(F.max("event_id")).collect()[0][0]


def test_state_survives_restart(spark, tmp_path):
    events, log = _setup(spark, tmp_path)
    out = str(tmp_path / "counters")
    ckpt = str(tmp_path / "ckpt")
    # first run: drain only part of the log (it does availableNow over what
    # exists); then append more chunks and run a SECOND query on the same
    # checkpoint — totals must continue, not restart from zero.
    q = start_flow_counter_stream(spark, log, out, ckpt, max_files_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    first_total = spark.read.parquet(out).agg(F.max("total_events")).collect()[0][0]

    cfg2 = GeneratorConfig(n_events=2000, n_keys=500, n_repos=10, seed=14)
    more = generate_events(spark, cfg2).withColumn(
        "event_id", F.col("event_id") + F.lit(100_000_000))
    extra_dir = os.path.join(log, "chunk=9999")
    more.drop("chunk").write.mode("overwrite").parquet(extra_dir)

    q2 = start_flow_counter_stream(spark, log, out, ckpt, max_files_per_trigger=2)
    q2.processAllAvailable()
    q2.stop()
    final_total = spark.read.parquet(out).agg(F.max("total_events")).collect()[0][0]
    n_more = more.filter(F.col("event_type").isin("insert", "update", "delete")).count()
    assert final_total == first_total + n_more
    assert glob.glob(os.path.join(out, "*.parquet"))
