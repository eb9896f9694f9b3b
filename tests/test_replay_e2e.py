"""End-to-end replay vs the sequential-apply oracle.

The north-rule gate: after full replay the engine's final table state equals
the oracle's, row-for-row, on (repo, path) → sha256(content) with 100% match
rate, including schema evolution and a kill/resume mid-replay (mirrors the
reference's field-by-field harness
/root/reference/Bristol/test/MySQL_Filed_DataCheck.go and its
PerformanceTesting repeatable-replay mode /root/reference/server/recovery.go:189-244).
"""

import hashlib

import pytest

from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, registry_for, write_event_log
from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine, replay_event_log

CFG = GeneratorConfig(
    n_events=6000,
    n_keys=600,
    n_repos=30,
    seed=21,
    pk_change_ratio=0.05,
    snapshot_keys=400,
    ddl=[
        (2500, "ALTER TABLE code.repos ADD COLUMN stars INT"),
        (4000, "ALTER TABLE code.repos MODIFY COLUMN stars BIGINT"),
        (5200, "ALTER TABLE code.repos ADD COLUMN notes STRING"),
    ],
)


@pytest.fixture(scope="module")
def fixtures(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")
    events = generate_events(spark, CFG)
    snapshot = generate_snapshot(spark, CFG)
    log_path = str(root / "event_log")
    write_event_log(events, log_path, n_chunks=6)
    expected = sequential_apply(events.toPandas(), snapshot.toPandas())
    return {"root": root, "events": events, "snapshot": snapshot, "log": log_path, "expected": expected}


def _assert_matches_oracle(table, expected):
    actual = table.to_pandas_sorted()
    assert list(actual.columns) == list(expected.columns), (actual.columns, expected.columns)
    assert len(actual) == len(expected)
    exp_sha = content_sha_map(expected)
    act_sha = content_sha_map(actual)
    assert act_sha == exp_sha  # 100% sha256(content) match per (repo, path)
    # full-payload equality, not just content
    a = actual.fillna("␀").astype(str)
    e = expected.fillna("␀").astype(str)
    mism = (a.values != e.values).sum()
    assert mism == 0, f"{mism} field mismatches"


def test_full_replay_matches_oracle(spark, fixtures, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=16)
    table.bootstrap(fixtures["snapshot"])
    replay_event_log(spark, fixtures["log"], table)
    _assert_matches_oracle(table, fixtures["expected"])
    # schema evolution landed: stars (bigint) + notes present
    assert {"stars", "notes"} <= set(table.read().columns)


def test_kill_resume_and_double_replay(spark, fixtures, tmp_path):
    p = str(tmp_path / "tbl2")
    table = TargetTable.create(spark, p, n_buckets=16)
    table.bootstrap(fixtures["snapshot"])
    # "crash" after 3 of 6 chunks
    replay_event_log(spark, fixtures["log"], table, end_chunk=3)
    # restart: fresh object from disk, replay EVERYTHING from chunk 0 —
    # committed ranges must be skipped (manifests), result identical
    table2 = TargetTable(spark, p)
    results = replay_event_log(spark, fixtures["log"], table2)
    skipped = [r for r in results if r.get("skipped")]
    assert skipped, "expected committed chunks to be skipped on resume"
    _assert_matches_oracle(table2, fixtures["expected"])
    # a full third replay is a complete no-op
    n_applied = len(table2.lineage())
    replay_event_log(spark, fixtures["log"], TargetTable(spark, p))
    assert len(TargetTable(spark, p).lineage()) == n_applied


def test_oracle_self_check(fixtures):
    # sanity: oracle state is non-trivial and has deleted keys
    expected = fixtures["expected"]
    assert len(expected) > 300
    assert expected["last_event_id"].max() > 0
    h = hashlib.sha256(str(sorted(content_sha_map(expected).items())).encode()).hexdigest()
    assert len(h) == 64


def test_chunk_index_fast_path_engages(spark, tmp_path):
    """Guard against the round-2 partition-type-inference bug: when the log
    carries _chunks.json, ordered replay must take the hint path for EVERY
    chunk — no pre-scan stats job (no stats_ms in any result), only the
    key-only job that names the touched buckets — and index keys must
    match the chunk directory names exactly."""
    import json
    import os

    from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
    from bifrost_spark.operators.merge import TargetTable
    from bifrost_spark.pipelines.replay import replay_event_log

    cfg = GeneratorConfig(n_events=2000, n_keys=200, n_repos=10, seed=5, snapshot_keys=50,
                          ddl=[(1000, "ALTER TABLE code.repos ADD COLUMN stars INT")])
    log = str(tmp_path / "log")
    write_event_log(generate_events(spark, cfg), log, n_chunks=3)
    with open(os.path.join(log, "_chunks.json")) as f:
        index = json.load(f)
    dirs = sorted(d for d in os.listdir(log) if d.startswith("chunk="))
    assert sorted(index) == dirs, "index keys must equal chunk dir names"
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    table.bootstrap(generate_snapshot(spark, cfg))
    results = replay_event_log(spark, log, table)
    assert all(r.get("stats_ms", 0) == 0 for r in results), \
        f"pre-scan stats job ran despite chunk index: {results}"
    assert table.gtid_executed  # hint path also feeds the gtid view


def test_ddl_barrier_fold(spark, tmp_path):
    """A DDL mid-chunk costs one metadata-only commit and no merge of its
    own — one merge cycle per chunk — with the high-water mark deferred so
    a crash between the DDL commit and the chunk's merge commit cannot mark
    the pre-DDL events stale.  State must equal the sequential oracle."""
    from bifrost_spark.generator import GeneratorConfig, generate_events, write_event_log
    from bifrost_spark.oracle import content_sha_map, sequential_apply
    from bifrost_spark.pipelines.replay import replay_event_log

    cfg = GeneratorConfig(n_events=4000, n_keys=400, n_repos=10, seed=11, snapshot_keys=0,
                          ddl=[(2000, "ALTER TABLE code.repos ADD COLUMN stars INT")])
    events = generate_events(spark, cfg)
    log = str(tmp_path / "log")
    # 4 chunks of 1000 data events: the DDL (idx 2000) lands right after the
    # first event of chunk 2 → a 1-op pre-DDL remainder
    write_event_log(events, log, n_chunks=4)
    expected = sequential_apply(events.toPandas())

    t = TargetTable.create(spark, str(tmp_path / "tbl_fold"), n_buckets=4)
    replay_event_log(spark, log, t)
    assert content_sha_map(t.to_pandas_sorted().reset_index(drop=True)) == content_sha_map(expected)
    merged = [a for a in t.lineage() if a["kind"].startswith("merge")]
    assert len(merged) == 4  # one merge cycle per chunk: the DDL split none

    # deferred-lwm crash safety: apply only the DDL, then reopen — the
    # pre-DDL events must still be above the high-water mark
    t2 = TargetTable.create(spark, str(tmp_path / "tbl_crash"), n_buckets=4)
    before = t2.last_event_id
    t2.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT",
                 batch_id="ddl:4003", event_id=4003, defer_lwm=True)
    assert t2.last_event_id == before  # not advanced past unapplied data
    assert t2.registry.current_version == 1  # but the schema DID evolve
