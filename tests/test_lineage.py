"""The per-batch record: every commit appends its own entry to
``_state/lineage.jsonl``, so ``TargetTable.lineage()`` holds exactly one
record per commit — whatever the commit kind, and across a failed commit
that is retried, a quarantine and its repair."""

from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
from bifrost_spark.operators.merge import RECORD_KEYS, TargetTable
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine, replay_event_log

CFG = GeneratorConfig(
    n_events=800, n_keys=120, n_repos=8, seed=5, snapshot_keys=60,
    ddl=[(200, "ALTER TABLE code.repos ADD COLUMN stars INT")],
)


def test_one_record_per_commit(spark, tmp_path, monkeypatch):
    events = generate_events(spark, CFG)
    snap = generate_snapshot(spark, CFG)
    log = str(tmp_path / "log")
    write_event_log(events.filter("event_id < 1000"), log, n_chunks=2, files_per_chunk=2)

    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)
    table.bootstrap(snap)
    # hinted replay across the mid-stream ADD COLUMN (data ids are even,
    # the DDL's id 403 is odd)
    replay_event_log(spark, log, table)
    assert table.registry.current_version == 1

    engine = ReplayEngine(table, on_error="dead_letter", max_retries=1)
    # a hint-less batch
    engine.apply_batch(events.filter("event_id >= 1000 AND event_id < 1200"))

    # a batch whose first commit fails after its data is written
    real_write = TargetTable._write_snapshot
    calls = []

    def fail_once(fs, path, st):
        calls.append(st["snapshot"])
        if len(calls) == 1:
            raise OSError("injected commit failure")
        real_write(fs, path, st)

    monkeypatch.setattr(table, "_write_snapshot", fail_once)
    res = engine.apply_batch(events.filter("event_id >= 1200 AND event_id < 1400"))
    assert res[0]["retries"] == 1 and calls[0] == calls[1]
    monkeypatch.undo()

    # a poison batch, quarantined, then repaired
    def poison(*_a, **_kw):
        raise RuntimeError("injected sink failure")

    monkeypatch.setattr(table, "apply_ops", poison)
    res = engine.apply_batch(events.filter("event_id >= 1400"))
    monkeypatch.undo()
    assert res[0]["dead_lettered"]
    table.repair_dead_letter(res[0]["batch_id"])
    table.compact()

    recs = table.lineage()
    assert len(recs) == int(table.state["snapshot"][1:])  # one record per commit
    # each record is its commit's entry, in commit order; the manifest's
    # id tail (not full here) holds the same batch ids
    assert [r["batch_id"] for r in recs] == table.state["applied_ids"]
    assert [r["snapshot"] for r in recs] == [f"v{i:08d}" for i in range(1, len(recs) + 1)]
    assert {r["kind"] for r in recs} == {
        "bootstrap", "merge", "ddl", "dead_letter", "dead_letter_retired", "compact"}
    assert all(set(RECORD_KEYS) <= set(r) for r in recs)
    merges = [r for r in recs if r["kind"] == "merge"]
    assert len(merges) == 5  # 2 replay chunks, hint-less, retried, repair
    for r in merges:
        assert None not in (r["n_ops"], r["rows_out"], r["tombstones"], r["buckets_rewritten"])
    # the repaired range ends up in the table like every other
    expected = sequential_apply(events.toPandas(), snap.toPandas())
    assert content_sha_map(expected) == content_sha_map(table.to_pandas_sorted())
    # a reopened handle reads the same record; a time-traveled one stops
    # at its snapshot
    assert TargetTable(spark, table.path).lineage() == recs
    assert TargetTable(spark, table.path, at_snapshot="v00000002").lineage() == recs[:2]
