"""Snapshot time travel: every commit's manifest + data stay readable until
vacuum, so any historical table state can be re-opened read-only — the
Iceberg snapshot-read model over the engine's copy-on-write commits."""

import pytest

from bifrost_spark.generator import GeneratorConfig, generate_events
from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine

CFG = GeneratorConfig(n_events=1500, n_keys=200, n_repos=10, seed=23, snapshot_keys=0)


def test_time_travel_reads_each_batch_state(spark, tmp_path):
    events = generate_events(spark, CFG)
    pdf = events.toPandas()
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    engine = ReplayEngine(table, ordered=True)

    cuts = [1000, 2000, 3002]  # event_id boundaries of three batches
    snaps_after = []
    lo = 0
    from pyspark.sql import functions as F
    for hi in cuts:
        engine.apply_batch(events.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi)))
        snaps_after.append(table.state["snapshot"])
        lo = hi

    hist = table.snapshots()
    assert [h["snapshot"] for h in hist][0] == "v00000000"
    assert all(h["data_present"] for h in hist)

    # each recorded snapshot re-opens to exactly the prefix-apply oracle state
    lo = 0
    for snap, hi in zip(snaps_after, cuts):
        expected = sequential_apply(pdf[pdf["event_id"] <= hi])
        old = TargetTable(spark, table.path, at_snapshot=snap)
        actual = old.to_pandas_sorted().reset_index(drop=True)
        assert content_sha_map(actual) == content_sha_map(expected), snap
        assert expected.equals(actual[expected.columns.tolist()]), snap
        assert old.last_event_id <= hi

    # a time-traveled handle refuses every mutation at the commit point
    old = TargetTable(spark, table.path, at_snapshot=snaps_after[0])
    with pytest.raises(RuntimeError, match="read-only"):
        old.vacuum()

    # unknown snapshot → explicit error listing what is retained
    with pytest.raises(FileNotFoundError, match="v99999999"):
        TargetTable(spark, table.path, at_snapshot="v99999999")

    # vacuum retires history; CURRENT still reads, retired manifests are gone
    table.vacuum()
    hist2 = table.snapshots()
    assert [h["snapshot"] for h in hist2] == [table.state["snapshot"]]
    final = sequential_apply(pdf)
    assert content_sha_map(table.to_pandas_sorted()) == content_sha_map(final)


def test_time_travel_mutations_raise_at_entry(spark, tmp_path, monkeypatch):
    """ADVICE round-3: the read-only guard must fire BEFORE the merge job
    runs, or a time-traveled apply_ops litters orphan data/<snap> dirs that
    only a later vacuum reclaims.  Assert no new data dir appears."""
    import os

    from bifrost_spark.operators.lww import events_to_ops

    events = generate_events(spark, CFG)
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    ReplayEngine(table, ordered=True).apply_batch(events)

    old = TargetTable(spark, table.path, at_snapshot="v00000000")
    data_dir = os.path.join(table.path, "data")
    before = sorted(os.listdir(data_dir))
    ops = events_to_ops(events.limit(10))
    for call in (
        lambda: old.apply_ops(ops, "tt", (1, 10)),
        lambda: old.merge(ops, "tt3", (1, 10)),
        lambda: old.bootstrap(ops, "tt4"),  # refused before the frame is read
        lambda: old.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT", "ddl:9999", 9999),
        lambda: old.quarantine(events.limit(1), "tt2", (1, 2), "boom"),
        lambda: old.repair_dead_letter("tt2"),
        lambda: old.compact(),
        lambda: old.vacuum(),
    ):
        with pytest.raises(RuntimeError, match="read-only"):
            call()
    assert sorted(os.listdir(data_dir)) == before  # no orphan snapshot dirs
    assert old.registry.current_version == 0 and "schema_version" not in old.state
