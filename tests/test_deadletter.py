"""M9 poison-batch handling: retry, dead-letter quarantine, stream proceeds.

Reference semantics: /root/reference/server/to_server_consume.go:228-289 —
retry the sink write, then either block (must-be-success) or skip with the
error on record.
"""

import pytest
from pyspark.sql import functions as F

from bifrost_spark.operators import merge
from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.pipelines.replay import ReplayEngine
from bifrost_spark.schemas import EVENT_SCHEMA


def _events(spark, lo_idx, n):
    return spark.range(lo_idx, lo_idx + n).select(
        (F.col("id") * 2 + 2).alias("event_id"),
        F.lit(1).alias("file_num"),
        (F.col("id") * 128).alias("pos"),
        F.lit("insert").alias("event_type"),
        F.lit("code").alias("schema_name"),
        F.lit("repos").alias("table_name"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.concat(F.lit("g:"), F.col("id")).alias("gtid"),
        F.array(F.lit("repo"), F.lit("path")).alias("pri"),
        F.lit(None).cast(EVENT_SCHEMA["before"].dataType).alias("before"),
        F.struct(
            F.lit("r").alias("repo"),
            F.concat(F.lit("p"), F.col("id")).alias("path"),
            F.lit("c").alias("commit"),
            F.lit("py").alias("lang"),
            F.lit("v").alias("content"),
            F.lit(None).cast("map<string,string>").alias("extra"),
        ).alias("after"),
        F.lit(None).cast("string").alias("query"),
        F.lit(0).alias("schema_version"),
    )


class _FlakySink:
    """Wraps TargetTable.apply_ops: fail the first N calls for a batch."""

    def __init__(self, table, fail_times):
        self.real = table.apply_ops
        self.fail_times = fail_times
        self.calls = 0

    def __call__(self, *a, **kw):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise RuntimeError(f"injected sink failure #{self.calls}")
        return self.real(*a, **kw)


def test_transient_failure_retries_then_succeeds(spark, tmp_path, monkeypatch):
    table = TargetTable.create(spark, str(tmp_path / "t1"), n_buckets=4)
    flaky = _FlakySink(table, fail_times=2)
    monkeypatch.setattr(table, "apply_ops", flaky)
    engine = ReplayEngine(table, on_error="dead_letter", max_retries=2)
    res = engine.apply_batch(_events(spark, 0, 50))
    assert res[0].get("retries") == 2 and not res[0].get("dead_lettered")
    assert table.read().count() == 50


def test_poison_batch_dead_letters_and_stream_proceeds(spark, tmp_path, monkeypatch):
    table = TargetTable.create(spark, str(tmp_path / "t2"), n_buckets=4)
    engine = ReplayEngine(table, on_error="dead_letter", max_retries=1)

    # batch 1 lands normally
    engine.apply_batch(_events(spark, 0, 50))

    # batch 2 is poison: every attempt fails
    monkeypatch.setattr(table, "apply_ops", _FlakySink(table, fail_times=99))
    res = engine.apply_batch(_events(spark, 50, 50))
    assert res[0]["dead_lettered"] is True
    monkeypatch.undo()

    # the quarantined range is on the permanent record and the raw events
    # are readable for offline repair
    dls = table.dead_letters()
    assert len(dls) == 1 and dls[0]["kind"] == "dead_letter"
    assert "injected sink failure" in dls[0]["error"]
    quarantined = spark.read.parquet(dls[0]["path"])
    assert quarantined.count() == 50

    # batch 3 proceeds; the poison range is skipped on redelivery
    engine.apply_batch(_events(spark, 100, 50))
    assert table.read().count() == 100
    replay = engine.apply_batch(_events(spark, 50, 50))
    assert replay == [] or replay[0].get("skipped")  # stale-skip or manifest skip

    # the quarantine record survives the bounded applied tail (it is the
    # ONLY pointer to the unrepaired data)
    monkeypatch.setattr(merge, "APPLIED_TAIL", 4)
    for i in range(6):
        engine.apply_batch(_events(spark, 150 + i * 10, 10))
    assert not {d["batch_id"] for d in table.dead_letters()} & table.applied_batch_ids  # aged out of the tail
    assert len(table.dead_letters()) == 1  # still on the permanent record

    # repaired events re-apply under a fresh repair: batch id (the original
    # id stays on the applied record) through the normal guard path;
    # repair retires the quarantine record
    res = table.repair_dead_letter(dls[0]["batch_id"])
    assert not res.get("skipped")
    assert table.read().count() == 210
    assert table.dead_letters() == []
    with pytest.raises(KeyError, match="no dead-letter record"):
        table.repair_dead_letter("merge:nope")


def test_dead_letter_repair_never_rewrites_a_manifest(spark, tmp_path, monkeypatch):
    """Each commit of the dead-letter → repair flow writes a fresh
    ``_state/v*.json``: retiring the quarantine record is its own snapshot,
    not a rewrite of the manifest that CURRENT already names."""
    import os

    table = TargetTable.create(spark, str(tmp_path / "t4"), n_buckets=4)
    written = []
    real_write = table._fs.write_text_atomic

    def spy(path, text):
        written.append(os.path.basename(path))
        real_write(path, text)

    monkeypatch.setattr(table._fs, "write_text_atomic", spy)
    engine = ReplayEngine(table, on_error="dead_letter", max_retries=0)
    engine.apply_batch(_events(spark, 0, 20))
    with monkeypatch.context() as m:
        m.setattr(table, "apply_ops", _FlakySink(table, fail_times=99))
        poisoned = engine.apply_batch(_events(spark, 20, 20))[0]
    assert poisoned["dead_lettered"] is True
    table.repair_dead_letter(poisoned["batch_id"])

    manifests = [n for n in written if n.startswith("v") and n.endswith(".json")]
    assert len(manifests) == 4  # merge, quarantine, repair merge, retirement
    assert len(set(manifests)) == len(manifests)
    assert table.dead_letters() == [] and table.read().count() == 40


def test_must_success_mode_raises(spark, tmp_path, monkeypatch):
    table = TargetTable.create(spark, str(tmp_path / "t3"), n_buckets=4)
    monkeypatch.setattr(table, "apply_ops", _FlakySink(table, fail_times=99))
    engine = ReplayEngine(table, on_error="fail", max_retries=1)
    with pytest.raises(RuntimeError, match="injected sink failure"):
        engine.apply_batch(_events(spark, 0, 10))
    assert table.dead_letters() == []
