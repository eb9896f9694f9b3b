"""Compaction / vacuum maintenance + CLI smoke.

Compaction mirrors Iceberg rewrite_data_files + positional-delete
compaction: small files merge, tombstones below the source low-water mark
are GCed, tombstones above it survive (they still guard against late
lower-event_id upserts), and table state is unchanged for readers.
"""

import glob
import json
import os

from bifrost_spark.operators.merge import TargetTable


def _resolved(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, op string, commit string, lang string, "
        "content string, extra map<string,string>, event_id long",
    )


def _state(table):
    return {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}


def _files(table):
    return glob.glob(os.path.join(table.path, "data", "*", "bucket=*", "*.parquet"))


def test_compact_preserves_state_and_merges_files(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    # several merges -> several snapshots -> several files per bucket
    for i, eid in enumerate((2, 4, 6, 8)):
        table.merge(_resolved(spark, [("r", f"p{i}", "upsert", "c", "py", f"v{i}", None, eid)]),
                    batch_id=f"b{i}", batch_range=(eid, eid))
    before = _state(table)
    table.compact()
    after_table = TargetTable(spark, table.path)
    assert _state(after_table) == before
    # one live snapshot, one file per non-empty bucket
    assert len(set(after_table.state["buckets"].values())) == 1
    live_snap = next(iter(set(after_table.state["buckets"].values())))
    for b in after_table.state["buckets"]:
        fs = glob.glob(os.path.join(table.path, "data", live_snap, f"bucket={b}", "*.parquet"))
        assert len(fs) == 1


def test_compact_writes_the_merge_codec(spark, tmp_path):
    """Compacted files carry the same parquet codec as merged ones (the
    session default differs from the table's write codec)."""
    import pyarrow.parquet as pq

    def codecs(snap):
        return {pq.ParquetFile(f).metadata.row_group(0).column(0).compression
                for f in glob.glob(os.path.join(table.path, "data", snap, "bucket=*", "*.parquet"))}

    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    table.merge(_resolved(spark, [("r", f"p{i}", "upsert", "c", "py", f"v{i}", None, 2 + 2 * i)
                                  for i in range(6)]),
                batch_id="b1", batch_range=(2, 12))
    merged = codecs(table.state["snapshot"])
    table.compact()
    compacted = codecs(table.state["snapshot"])
    assert merged and len(merged) == 1
    assert compacted == merged


def test_compact_gcs_tombstones_below_lwm_only(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    table.merge(_resolved(spark, [("r", "a", "upsert", "c", "py", "v", None, 2),
                                  ("r", "b", "upsert", "c", "py", "v", None, 4)]),
                batch_id="b1", batch_range=(2, 4))
    table.merge(_resolved(spark, [("r", "a", "delete", None, None, None, None, 6),
                                  ("r", "b", "delete", None, None, None, None, 8)]),
                batch_id="b2", batch_range=(6, 8))
    tombs = table.read(include_deleted=True).filter("is_deleted").count()
    assert tombs == 2
    table.compact(tombstone_low_water_mark=6)  # GC eid<=6, keep eid=8
    t2 = TargetTable(spark, table.path)
    kept = t2.read(include_deleted=True).filter("is_deleted").collect()
    assert [r["last_event_id"] for r in kept] == [8]
    # the surviving tombstone still blocks a late lower-event_id upsert
    t2.merge(_resolved(spark, [("r", "b", "upsert", "c", "py", "late", None, 7)]),
             batch_id="late", batch_range=(7, 7))
    assert ("r", "b") not in _state(TargetTable(spark, table.path))


def test_compact_keeps_the_one_layout(spark, tmp_path):
    """Compaction copies each row's ``extra`` map as scanned: the compacted
    files keep the one layout (no typed ``stars`` column) and the read
    still types ``stars`` out of the map."""
    import pyarrow.parquet as pq

    from bifrost_spark.operators.merge import FILE_SCHEMA

    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    table.merge(_resolved(spark, [("r", "a", "upsert", "c", "py", "v", None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    table.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT", batch_id="ddl:3", event_id=3)
    table.merge(_resolved(spark, [("r", "b", "upsert", "c", "py", "v", {"stars": "9"}, 4)]),
                batch_id="b2", batch_range=(4, 4))
    table.compact()
    t2 = TargetTable(spark, table.path)
    live_snap = next(iter(set(t2.state["buckets"].values())))
    files = glob.glob(os.path.join(table.path, "data", live_snap, "bucket=*", "*.parquet"))
    assert files and all(pq.read_schema(f).names == FILE_SCHEMA.fieldNames() for f in files)
    assert {r["path"]: r["stars"] for r in t2.read().collect()} == {"a": None, "b": 9}


def test_vacuum_removes_orphans(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i, eid in enumerate((2, 4, 6)):
        table.merge(_resolved(spark, [("r", f"p{i}", "upsert", "c", "py", "v", None, eid)]),
                    batch_id=f"b{i}", batch_range=(eid, eid))
    table.compact()
    before = _state(table)
    n_snap_dirs = len(os.listdir(os.path.join(table.path, "data")))
    assert n_snap_dirs > 1
    res = table.vacuum()
    assert res["removed_snapshots"]
    live = set(table.state["buckets"].values())
    assert set(os.listdir(os.path.join(table.path, "data"))) == live
    t2 = TargetTable(spark, table.path)  # reopen after state-file GC
    assert _state(t2) == before


def test_cli_end_to_end(spark, tmp_path):
    from bifrost_spark import cli

    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    gen = ["--n-events", "2000", "--n-keys", "300", "--n-repos", "10",
           "--snapshot-keys", "100", "--seed", "11"]
    assert cli.main(["generate", "--out", log, "--chunks", "2", "--files-per-chunk", "2", *gen]) == 0
    assert cli.main(["bootstrap", "--table", tbl, "--n-buckets", "4", *gen]) == 0
    assert cli.main(["replay", "--log", log, "--table", tbl]) == 0
    first_replayed = TargetTable(spark, tbl).state["snapshot"]
    assert cli.main(["changes", "--table", tbl, "--from-snapshot", "v00000001",
                     "--out", str(tmp_path / "chg")]) == 0
    assert spark.read.parquet(str(tmp_path / "chg")).count() > 0
    assert cli.main(["changes", "--table", tbl,
                     "--from-snapshot", first_replayed, "--pre-images"]) == 0
    assert cli.main(["compact", "--table", tbl]) == 0
    assert cli.main(["vacuum", "--table", tbl]) == 0
    assert cli.main(["status", "--table", tbl]) == 0
    # CLI replay result equals the library replay result (same oracle path
    # as tests/test_replay_e2e.py; here we just check non-trivial state)
    t = TargetTable(spark, tbl)
    assert t.read().count() > 0
    assert t.last_event_id >= 2 * 2000


def test_cli_status_json(spark, tmp_path, capsys):
    from bifrost_spark import cli

    tbl = str(tmp_path / "tbl")
    cli.main(["bootstrap", "--table", tbl, "--n-buckets", "2",
              "--n-events", "10", "--snapshot-keys", "5", "--n-keys", "10"])
    capsys.readouterr()
    cli.main(["status", "--table", tbl])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 5 and out["live_buckets"] >= 1
    assert [r["kind"] for r in out["recent"]] == ["bootstrap"] and out["events_per_s"] is None

    # after a 6-chunk replay: the last STATUS_RECORDS records, all merges
    log = str(tmp_path / "log")
    cli.main(["generate", "--out", log, "--chunks", "6", "--files-per-chunk", "1",
              "--n-events", "60", "--n-keys", "10"])
    cli.main(["replay", "--log", log, "--table", tbl])
    capsys.readouterr()
    cli.main(["status", "--table", tbl])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    recs = TargetTable(spark, tbl).lineage()
    assert len(recs) == 7 and len(out["recent"]) == cli.STATUS_RECORDS
    assert out["recent"] == [
        {"kind": "merge", "batch_id": r["batch_id"],
         "event_range": [r["min_event_id"], r["max_event_id"]],
         "n_ops": r["n_ops"], "wall_ms": r["wall_ms"]} for r in recs[-cli.STATUS_RECORDS:]]
    assert sum(r["n_ops"] for r in out["recent"]) > 0 and out["events_per_s"] > 0


def test_cli_status_counts_every_commit(spark, tmp_path, capsys, monkeypatch):
    """``status`` reports every commit, also once the manifest's id tail
    is full, and the registry's schema version."""
    from bifrost_spark import cli
    from bifrost_spark.operators import merge

    monkeypatch.setattr(merge, "APPLIED_TAIL", 2)
    tbl = str(tmp_path / "tbl")
    t = TargetTable.create(spark, tbl, n_buckets=2)
    for i in range(5):
        t.apply_ddl(f"ALTER TABLE code.repos ADD COLUMN c{i} INT",
                    batch_id=f"ddl:{2 * i + 1}", event_id=2 * i + 1)
    capsys.readouterr()
    cli.main(["status", "--table", tbl])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["applied_batches"] == len(t.lineage()) == 5
    assert out["schema_version"] == t.registry.current_version == 5
    assert t.applied_batch_ids == {"ddl:7", "ddl:9"}


def test_fused_lineage_bucket_rows(spark, tmp_path):
    """Every apply records, on its commit entry, the rows it wrote and the
    buckets it rewrote."""
    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    ops = spark.createDataFrame(
        [("r", f"p{i}", "upsert", "c", "py", f"v{i}", None, 2 * (i + 1),
          4 * (i + 1) + 1, 0) for i in range(20)],
        "repo string, path string, op string, commit string, lang string, "
        "content string, extra map<string,string>, event_id long, seq long, "
        "schema_version int",
    )
    res = table.apply_ops(ops, batch_id="b1", batch_range=(2, 40), n_ops_hint=20)
    assert res["fused"]
    (rec,) = table.lineage()
    assert rec["batch_id"] == "b1" and rec["n_ops"] == 20
    assert (rec["rows_out"], rec["tombstones"]) == (20, 0)
    assert rec["buckets_rewritten"] == res["buckets_rewritten"] == len(table.state["buckets"])


def test_auto_compact_during_replay(spark, tmp_path):
    """replay_event_log(auto_compact_snapshots=N): once live buckets span
    more than N snapshots the engine compacts + vacuums mid-replay, GCing
    tombstones below the ordered high-water mark, without changing the
    final state vs a maintenance-free replay."""
    from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
    from bifrost_spark.oracle import content_sha_map, sequential_apply
    from bifrost_spark.pipelines.replay import replay_event_log

    # small point-y chunks against many buckets: each merge rewrites a
    # SUBSET of buckets, so live-bucket snapshots fan out until the
    # auto-compact threshold trips (with few buckets every chunk touches
    # all of them and one snapshot stays live — no trigger).
    cfg = GeneratorConfig(n_events=600, n_keys=400, n_repos=12, seed=21,
                          snapshot_keys=100, delete_ratio=0.2)
    events = generate_events(spark, cfg)
    log = str(tmp_path / "log")
    write_event_log(events, log, n_chunks=12, files_per_chunk=2)

    t = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=64)
    t.bootstrap(generate_snapshot(spark, cfg))
    res = replay_event_log(spark, log, t, auto_compact_snapshots=2)
    assert any(r.get("kind") == "auto_compact" for r in res)
    t = TargetTable(spark, t.path)
    # live snapshots bounded; orphans vacuumed
    assert len(set(t.state["buckets"].values())) <= 4
    data_dirs = set(os.listdir(os.path.join(t.path, "data")))
    assert data_dirs == set(t.state["buckets"].values())
    # final state still equals the sequential oracle
    expected = sequential_apply(events.toPandas(), generate_snapshot(spark, cfg).toPandas())
    actual = t.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(expected) == content_sha_map(actual)
    # tombstones below the high-water mark were GCed by the last compact
    n_tombs = t.read(include_deleted=True).filter("is_deleted").count()
    applied_compacts = [a for a in t.lineage() if a["kind"] == "compact"]
    assert applied_compacts and applied_compacts[-1]["tombstone_lwm"] > 0
    assert n_tombs < events.filter("event_type = 'delete'").count()


def test_cli_counters(spark, tmp_path, capsys):
    from bifrost_spark import cli

    log = str(tmp_path / "log")
    cli.main(["generate", "--out", log, "--chunks", "2", "--files-per-chunk", "2",
              "--n-events", "1000", "--n-keys", "200", "--n-repos", "5", "--seed", "9"])
    capsys.readouterr()
    assert cli.main(["counters", "--log", log, "--out", str(tmp_path / "c1"),
                     "--checkpoint", str(tmp_path / "k1")]) == 0
    assert cli.main(["counters", "--log", log, "--out", str(tmp_path / "c2"),
                     "--checkpoint", str(tmp_path / "k2"), "--windowed"]) == 0
    assert spark.read.parquet(str(tmp_path / "c1")).count() > 0
    assert spark.read.parquet(str(tmp_path / "c2")).count() > 0
