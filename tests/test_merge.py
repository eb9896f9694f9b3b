"""TargetTable MERGE semantics: upsert/delete branches, guard, idempotency,
bucket pruning, bootstrap."""

import datetime
import json
import os

import pyspark.sql.functions as F
import pytest

from bifrost_spark.operators import merge
from bifrost_spark.operators.lww import OP_PAYLOAD, events_to_ops
from bifrost_spark.operators.merge import TargetTable, bucket_expr
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine
from bifrost_spark.registry import SchemaRegistry
from bifrost_spark.schemas import EVENT_SCHEMA, PK_COLUMNS


def _resolved(spark, rows):
    # rows: (repo, path, op, commit, lang, content, extra, event_id)
    return spark.createDataFrame(
        rows,
        "repo string, path string, op string, commit string, lang string, "
        "content string, extra map<string,string>, event_id long",
    )


@pytest.fixture()
def table(spark, tmp_path):
    return TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=8)


def _state(table):
    return {(r["repo"], r["path"]): r for r in table.read().collect()}


def test_insert_update_delete_branches(spark, table):
    r1 = table.merge(
        _resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2),
                          ("r", "b", "upsert", "c2", "go", "b1", None, 4)]),
        batch_id="b1", batch_range=(2, 4),
    )
    assert r1["n_ops"] == 2
    s = _state(table)
    assert s[("r", "a")]["content"] == "v1" and len(s) == 2

    table.merge(
        _resolved(spark, [("r", "a", "upsert", "c3", "py", "v2", None, 6),
                          ("r", "b", "delete", None, None, None, None, 8),
                          ("r", "c", "upsert", "c4", "rs", "c1", None, 10)]),
        batch_id="b2", batch_range=(6, 10),
    )
    s = _state(table)
    assert set(s) == {("r", "a"), ("r", "c")}
    assert s[("r", "a")]["content"] == "v2" and s[("r", "a")]["last_event_id"] == 6


def test_merge_idempotent_replay(spark, table):
    src = _resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2)])
    table.merge(src, batch_id="b1", batch_range=(2, 2))
    out = table.merge(src, batch_id="b1", batch_range=(2, 2))
    assert out["skipped"] is True
    assert table.state["applied_ids"] == ["b1"] and len(table.lineage()) == 1


def test_event_id_guard_on_overlapping_replay(spark, table):
    table.merge(_resolved(spark, [("r", "a", "upsert", "c9", "py", "NEW", None, 100)]),
                batch_id="new", batch_range=(100, 100))
    # a stale batch replayed under a different batch_id must not regress the row
    table.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "OLD", None, 50),
                                  ("r", "b", "delete", None, None, None, None, 60)]),
                batch_id="stale", batch_range=(50, 60))
    s = _state(table)
    assert s[("r", "a")]["content"] == "NEW" and s[("r", "a")]["last_event_id"] == 100


def test_delete_of_absent_key_is_noop(spark, table):
    table.merge(_resolved(spark, [("r", "zz", "delete", None, None, None, None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    assert table.read().count() == 0


def test_bucket_pruning_rewrites_only_touched_buckets(spark, table):
    rows = [(f"repo{i}", f"p{i}", "upsert", "c", "py", f"v{i}", None, 2 + 2 * i) for i in range(64)]
    table.merge(_resolved(spark, rows), batch_id="seed", batch_range=(2, 200))
    snap_before = {b: s for b, s in table.state["buckets"].items()}
    out = table.merge(_resolved(spark, [("repo3", "p3", "upsert", "c", "py", "vX", None, 500)]),
                      batch_id="point", batch_range=(500, 500))
    assert out["buckets_rewritten"] == 1
    changed = [b for b, s in table.state["buckets"].items() if snap_before.get(b) != s]
    assert len(changed) == 1
    s = _state(table)
    assert s[("repo3", "p3")]["content"] == "vX" and s[("repo5", "p5")]["content"] == "v5"


def test_bootstrap_then_incremental(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t2"), n_buckets=8)
    snap = spark.createDataFrame(
        [("r", "a", "c0", "py", "base", 0), ("r", "b", "c0", "py", "base", 0)],
        "repo string, path string, commit string, lang string, content string, last_event_id long",
    )
    table.bootstrap(snap)
    assert table.bootstrap(snap)["skipped"] is True
    table.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "inc", None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    s = _state(table)
    assert s[("r", "a")]["content"] == "inc" and s[("r", "b")]["content"] == "base"
    # an EXPLICIT re-bootstrap under a fresh batch_id is an intentional
    # reload, not a replay — it must run (id-equality skip, not range
    # containment of (0,0)) and overwrite the incremental state
    snap2 = snap.withColumn("content", F.lit("reloaded"))
    assert table.bootstrap(snap2, batch_id="reload-1")["skipped"] is False
    s = _state(table)
    assert s[("r", "a")]["content"] == "reloaded"
    # ...and the fresh id is itself idempotent
    assert table.bootstrap(snap2, batch_id="reload-1")["skipped"] is True


def test_ddl_add_column_then_merge_and_metadata_only_read(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t3"), n_buckets=4)
    table.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    table.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT", batch_id="ddl:3", event_id=3)
    # old rows read back with null stars (no rewrite)
    s = _state(table)
    assert s[("r", "a")]["stars"] is None
    table.merge(_resolved(spark, [("r", "b", "upsert", "c2", "go", "v2", {"stars": "42"}, 4)]),
                batch_id="b2", batch_range=(4, 4))
    s = _state(table)
    assert s[("r", "b")]["stars"] == 42 and s[("r", "a")]["stars"] is None
    # MODIFY widens on read
    table.apply_ddl("ALTER TABLE code.repos MODIFY COLUMN stars BIGINT", batch_id="ddl:5", event_id=5)
    row = table.read().filter(F.col("path") == "b").collect()[0]
    assert row["stars"] == 42
    # DROP prunes
    table.apply_ddl("ALTER TABLE code.repos DROP COLUMN stars", batch_id="ddl:6", event_id=6)
    assert "stars" not in table.read().columns


def test_truncate_clears(spark, tmp_path):
    table = TargetTable.create(spark, str(tmp_path / "t4"), n_buckets=4)
    table.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    table.apply_ddl("TRUNCATE TABLE code.repos", batch_id="ddl:3", event_id=3)
    assert table.read().count() == 0


def test_manifest_lineage_metrics(spark, table):
    """A merge's per-batch record is its manifest entry: ops in, rows and
    tombstones written, buckets rewritten, wall time."""
    res = table.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2),
                                        ("r", "b", "delete", None, None, None, None, 4)]),
                      batch_id="b1", batch_range=(2, 4))
    (entry,) = table.lineage()
    assert table.state["applied_ids"] == [entry["batch_id"]] == ["b1"]
    assert entry["kind"] == "merge" and entry["n_ops"] == 2
    # the delete of an absent key still lands, as a tombstone
    assert (entry["rows_out"], entry["tombstones"]) == (2, 1)
    assert entry["buckets_rewritten"] == res["buckets_rewritten"] == len(table.state["buckets"])
    assert entry["wall_ms"] > 0


def test_failed_ddl_commit_leaves_handle_unchanged(spark, table, monkeypatch):
    """apply_ddl evolves a copy of the registry: a commit that fails leaves
    the handle's registry and state as they were, and no record."""
    import copy

    def fail(*_a):
        raise OSError("injected commit failure")

    before = copy.deepcopy(table.state)
    monkeypatch.setattr(table, "_write_snapshot", fail)
    with pytest.raises(OSError, match="injected"):
        table.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT", batch_id="ddl:3", event_id=3)
    assert table.registry.current_version == 0 and table.state == before
    assert table.lineage() == []
    monkeypatch.undo()
    assert table.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT",
                           batch_id="ddl:3", event_id=3)["schema_version"] == 1
    assert table.registry.current_version == 1 and "stars" in table.read().columns


def test_reopen_from_disk(spark, tmp_path):
    p = str(tmp_path / "t5")
    t1 = TargetTable.create(spark, p, n_buckets=4, registry=SchemaRegistry())
    t1.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "v1", None, 2)]),
             batch_id="b1", batch_range=(2, 2))
    t2 = TargetTable(spark, p)
    assert _state(t2)[("r", "a")]["content"] == "v1"
    assert "b1" in t2.applied_batch_ids


def test_out_of_order_batches_commute(spark, tmp_path):
    """Tombstoned deletes + event_id guard make merge commutative across
    disjoint batches: applying (later, earlier) equals (earlier, later)."""
    early = [("r", "a", "upsert", "c1", "py", "v1", None, 10),
             ("r", "b", "upsert", "c2", "go", "b1", None, 12),
             ("r", "c", "upsert", "c3", "rs", "c1", None, 14)]
    late = [("r", "a", "delete", None, None, None, None, 20),   # delete after upsert
            ("r", "b", "upsert", "c4", "go", "b2", None, 22)]

    def run(order):
        t = TargetTable.create(spark, str(tmp_path / f"t_{order}"), n_buckets=4)
        batches = [("early", early, (10, 14)), ("late", late, (20, 22))]
        if order == "reversed":
            batches = batches[::-1]
        for bid, rows, rng in batches:
            t.merge(_resolved(spark, rows), batch_id=bid, batch_range=rng)
        return _state(t)

    s1, s2 = run("forward"), run("reversed")
    assert set(s1) == set(s2) == {("r", "b"), ("r", "c")}  # 'a' stays deleted
    for k in s1:
        assert s1[k]["content"] == s2[k]["content"]
        assert s1[k]["last_event_id"] == s2[k]["last_event_id"]
    assert s1[("r", "b")]["content"] == "b2"


def test_tombstone_blocks_late_upsert(spark, tmp_path):
    """A key deleted at event 20 must NOT be resurrected by a late-arriving
    upsert with event_id 10 (the failure mode physical deletes would have)."""
    t = TargetTable.create(spark, str(tmp_path / "t_tomb"), n_buckets=4)
    t.merge(_resolved(spark, [("r", "a", "delete", None, None, None, None, 20)]),
            batch_id="del", batch_range=(20, 20))
    t.merge(_resolved(spark, [("r", "a", "upsert", "c1", "py", "OLD", None, 10)]),
            batch_id="late", batch_range=(10, 10))
    assert t.read().count() == 0
    tomb = t.read(include_deleted=True).collect()
    assert len(tomb) == 1 and tomb[0]["is_deleted"] and tomb[0]["last_event_id"] == 20


def _ops(spark, rows):
    # rows: (repo, path, op, commit, lang, content, extra, event_id) -> raw
    # (un-deduped) op rows as events_to_ops would emit them
    data = [(r, p, k, c, lang, v, x, eid, eid * 2 + (1 if k == "upsert" else 0), 0)
            for (r, p, k, c, lang, v, x, eid) in rows]
    return spark.createDataFrame(
        data,
        "repo string, path string, op string, commit string, lang string, "
        "content string, extra map<string,string>, event_id long, seq long, "
        "schema_version int",
    )


def test_fused_out_of_order_batches_commute(spark, tmp_path):
    """apply_ops on raw (un-deduped) ops must commute across disjoint
    batches exactly like merge of resolved ops (LWW union max is
    associative)."""
    early = [("r", "a", "upsert", "c1", "py", "v1", None, 10),
             ("r", "a", "upsert", "c1b", "py", "v1b", None, 11),  # intra-batch dedup
             ("r", "b", "upsert", "c2", "go", "b1", None, 12)]
    late = [("r", "a", "delete", None, None, None, None, 20),
            ("r", "b", "upsert", "c4", "go", "b2", None, 22)]

    def run(order):
        t = TargetTable.create(spark, str(tmp_path / f"tf_{order}"), n_buckets=4)
        batches = [("early", early, (10, 12)), ("late", late, (20, 22))]
        if order == "reversed":
            batches = batches[::-1]
        for bid, rows, rng in batches:
            res = t.apply_ops(_ops(spark, rows), batch_id=bid, batch_range=rng, n_ops_hint=len(rows))
            assert res.get("fused"), res
        return _state(t)

    s1, s2 = run("forward"), run("reversed")
    assert set(s1) == set(s2) == {("r", "b")}
    assert s1[("r", "b")]["content"] == s2[("r", "b")]["content"] == "b2"
    assert s1[("r", "b")]["last_event_id"] == 22


def test_fused_prelww_knob_equal_state(spark, tmp_path):
    """Pre-LWW on the fused path (hot-key mitigation: resolve LWW on the
    batch before the single-exchange fused union) must produce the exact
    same final state as the raw-ops fused path — and the choice is
    cost-based: a dup-heavy batch (ops >> distinct-keys estimate) enables it
    automatically, an even batch does not."""
    rows = [("r", "a", "upsert", f"c{i}", "py", f"v{i}", None, 10 + i) for i in range(20)]  # hot key
    rows += [("r", "b", "delete", None, None, None, None, 40),
             ("r", "c", "upsert", "c5", "go", "x1", None, 41)]

    def run(tag, n_keys_hint=None, extra_rows=()):
        t = TargetTable.create(spark, str(tmp_path / f"tp_{tag}"), n_buckets=4)
        batch = rows + list(extra_rows)
        hi = max(r[-1] for r in batch)
        res = t.apply_ops(_ops(spark, batch), batch_id="b1", batch_range=(10, hi),
                          n_ops_hint=len(batch), n_keys_hint=n_keys_hint)
        assert res.get("fused"), res
        return res["pre_lww"], _state(t)

    # size hint without a key hint: apply_ops self-estimates the distinct
    # keys (ADVICE round-3 — a lone n_ops_hint must not silently disarm the
    # guard).  This batch is 22 ops / 3 keys = 7.3 < ratio 8 → correctly off…
    unhinted_off, s_default = run("default")
    # …and piling 10 more dups onto the hot key (32 ops / 3 keys > 8) arms
    # it WITHOUT a key hint — proof the estimate actually ran.
    hot_extra = [("r", "a", "upsert", f"h{i}", "py", f"hv{i}", None, 50 + i)
                 for i in range(10)]
    unhinted_on, _ = run("default_hot", extra_rows=hot_extra)
    auto_on, s_auto = run("auto", n_keys_hint=2)       # 22 ops / 2 keys > 8
    auto_off, s_even = run("even", n_keys_hint=20)     # 22 ops / 20 keys < 8

    assert (unhinted_off, unhinted_on, auto_on, auto_off) == (False, True, True, False)
    assert s_default == s_auto == s_even


def test_prelww_on_ops_without_schema_version(spark, table):
    """A caller's ops frame carries only the op columns (no
    ``schema_version``): a hot-key batch still arms the map-side pre-LWW
    combine, and the state equals the sequential oracle."""
    rows = [(2, "insert", None, ("r", "hot", "v0"))]
    rows += [(2 + 2 * i, "update", ("r", "hot", f"v{i - 1}"), ("r", "hot", f"v{i}"))
             for i in range(1, 40)]
    rows += [(100, "insert", None, ("r", "k0", "a")), (102, "insert", None, ("r", "k1", "b")),
             (104, "delete", ("r", "k1", "b"), None)]
    events = _events(spark, rows)
    ops = events_to_ops(events).select("event_id", "op", *PK_COLUMNS, *OP_PAYLOAD, "seq")
    assert len(rows) >= merge.PRELWW_RATIO * 3  # 43 ops on 3 keys
    res = table.apply_ops(ops, batch_id="hot", batch_range=(2, 104))
    assert res["pre_lww"]
    expected = sequential_apply(events.toPandas())
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    assert expected.equals(actual[expected.columns.tolist()])


def test_applied_ranges_stay_compact_and_skip_replay(spark, table, monkeypatch):
    """The commit manifest must stay O(1) over many ordered batches (merged
    interval set), and replay-skip must survive batch ids aging out of the
    bounded tail (range containment, ordered/range-exclusive delivery)."""
    monkeypatch.setattr(merge, "APPLIED_TAIL", 2)
    for i in range(6):
        lo = 2 + 4 * i
        table.merge(
            _resolved(spark, [("r", f"k{i}", "upsert", "c", "py", "v", None, lo)]),
            batch_id=f"b{i}", batch_range=(lo, lo + 3), range_exclusive=True,
        )
    # contiguous ordered ranges collapse to ONE interval; tail is bounded
    assert table.state["applied_ranges"] == [[2, 25]]
    assert table.state["applied_ids"] == ["b4", "b5"]
    assert len(table.lineage()) == 6
    # b0 aged out of the tail but its range is covered -> still skipped
    assert "b0" not in table.applied_batch_ids
    out = table.merge(
        _resolved(spark, [("r", "k0", "upsert", "c", "py", "OLD", None, 2)]),
        batch_id="b0", batch_range=(2, 5), range_exclusive=True,
    )
    assert out["skipped"] is True
    # without range-exclusive delivery the same check must NOT skip
    assert not table.is_applied("other", (2, 5), range_exclusive=False)


def test_manifest_keeps_ids_not_entries(spark, table):
    """The manifest keeps a bounded tail of batch ids, not commit entries:
    over 300 commits that each carry a ~1 KB field it stays small and
    lacks the keys other records hold, while ``lineage()`` keeps every full
    entry.  A manifest written with the full-entry tail (``applied``)
    still opens and still skips a batch id from that tail."""
    pad = "x" * 1024
    for i in range(300):
        table._commit(dict(table.state), {"batch_id": f"b{i}", "kind": "noop", "pad": pad})
    last = os.path.join(table.path, "_state", f"{table.state['snapshot']}.json")
    assert os.path.getsize(last) < 32 * 1024
    st = json.loads(open(last).read())
    assert not {"applied", "schema_version", "n_commits"} & set(st)
    assert st["applied_ids"] == [f"b{i}" for i in range(300 - merge.APPLIED_TAIL, 300)]
    recs = table.lineage()
    assert [r["batch_id"] for r in recs] == [f"b{i}" for i in range(300)]
    assert all(r["pad"] == pad for r in recs)

    # the same table as the full-entry layout wrote it
    legacy = {k: v for k, v in st.items() if k != "applied_ids"}
    legacy.update(snapshot="v00000301", schema_version=0, n_commits=301,
                  applied=[{"batch_id": b, "kind": "noop", "pad": pad} for b in st["applied_ids"]])
    TargetTable._write_snapshot(table._fs, table.path, legacy)
    old = TargetTable(spark, table.path)
    out = old.merge(_resolved(spark, [("r", "a", "upsert", "c", "py", "v", None, 2)]),
                    batch_id="b299", batch_range=(2, 2))
    assert out["skipped"] is True and old.read().count() == 0
    old._commit(dict(old.state), {"batch_id": "b300", "kind": "noop"})
    st = json.loads(open(os.path.join(table.path, "_state", "v00000302.json")).read())
    assert not {"applied", "schema_version", "n_commits"} & set(st)
    assert st["applied_ids"][-2:] == ["b299", "b300"]
    assert len(st["applied_ids"]) == merge.APPLIED_TAIL


def _events(spark, rows):
    # rows: (event_id, kind, before, after) with before/after None or
    # (repo, path, content[, extra]) -> EVENT_SCHEMA rows; a "ddl" row
    # carries its query in place of the before image
    def image(t):
        if t is None:
            return None
        return {"repo": t[0], "path": t[1], "commit": "c", "lang": "py",
                "content": t[2], "extra": t[3] if len(t) > 3 else None}

    ts = datetime.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(eid, 1, eid, kind, "code", "repos", ts, None, None, None, None, b, 0) if kind == "ddl"
         else (eid, 1, eid, kind, "code", "repos", ts, None, None, image(b), image(a), None, 0)
         for eid, kind, b, a in rows],
        EVENT_SCHEMA,
    )


def _buckets_of(spark, keys, n_buckets):
    df = spark.createDataFrame(keys, "repo string, path string")
    return {(r["repo"], r["path"]): r["b"]
            for r in df.select("repo", "path", bucket_expr(n_buckets).alias("b")).collect()}


def test_pk_change_across_buckets_rewrites_both_buckets_only(spark, tmp_path):
    """A hint-less batch whose one event is a PK-changing update moves a
    key from bucket x to bucket y: the pruned plan reads and rewrites
    exactly x and y (the before-image bucket comes from the pre-scan),
    every other bucket keeps its snapshot directory, and the state equals
    the oracle."""
    keys = [("r", f"k{i}") for i in range(40)]
    bucket = _buckets_of(spark, keys + [("r", f"moved{i}") for i in range(40)], 8)
    src = keys[0]
    dst = next(k for k, b in bucket.items() if k[1].startswith("moved") and b != bucket[src])
    snap = spark.createDataFrame(
        [(r, p, "c0", "py", f"base-{p}", 0) for r, p in keys],
        "repo string, path string, commit string, lang string, content string, last_event_id long",
    )
    table = TargetTable.create(spark, str(tmp_path / "pk"), n_buckets=8)
    table.bootstrap(snap)
    before = dict(table.state["buckets"])
    events = _events(spark, [(2, "update", (*src, f"base-{src[1]}"), (*dst, "moved"))])

    res = ReplayEngine(table).apply_batch(events)

    assert res[0]["buckets_rewritten"] == 2
    after = table.state["buckets"]
    moved = {int(b) for b, s in after.items() if before.get(b) != s}
    assert moved == {bucket[src], bucket[dst]}
    assert all(after[b] == s for b, s in before.items() if int(b) not in moved)
    expected = sequential_apply(events.toPandas(), snap.toPandas())
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    assert expected.equals(actual[expected.columns.tolist()])


def test_redelivered_event_under_new_batch_id_keeps_table_row(spark, table):
    """At equal seq the table row wins (the strict-newer MERGE guard): an
    event redelivered under a fresh batch id — here with a different
    payload, as a re-sliced source could hand it over — changes nothing."""
    table.apply_ops(_ops(spark, [("r", "a", "upsert", "c1", "py", "first", None, 10)]),
                    batch_id="b1", batch_range=(10, 10))
    res = table.apply_ops(_ops(spark, [("r", "a", "upsert", "c1", "py", "again", None, 10)]),
                          batch_id="b1-redelivered", batch_range=(10, 10))
    assert res["skipped"] is False
    row = _state(table)[("r", "a")]
    assert row["content"] == "first" and row["last_event_id"] == 10


def test_small_hintless_batch_job_budget(spark, tmp_path):
    """A 16-event hint-less batch into a 32-bucket table runs at most 5
    Spark jobs end to end (pre-scan, pruned read, one-exchange write)."""
    table = TargetTable.create(spark, str(tmp_path / "jobs"), n_buckets=32)
    table.bootstrap(spark.createDataFrame(
        [("r", f"k{i}", "c0", "py", "base", 0) for i in range(500)],
        "repo string, path string, commit string, lang string, content string, last_event_id long",
    ))
    engine = ReplayEngine(table)
    engine.apply_batch(_events(spark, [(2, "insert", None, ("r", "warm", "w"))]))
    rows = []
    for i in range(16):
        eid = 4 + 2 * i
        if i % 4 == 3:
            rows.append((eid, "delete", ("r", f"k{i}", None), None))
        else:
            rows.append((eid, "update", ("r", f"k{i}", "base"), ("r", f"k{i}", f"v{i}")))
    batch = _events(spark, rows)
    sc = spark.sparkContext
    sc.setJobGroup("job-budget", "16-event hint-less batch")
    try:
        res = engine.apply_batch(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("job-budget")
    assert res[0]["buckets_rewritten"] < 32
    assert len(jobs) <= 5, sorted(jobs)


def test_prescan_aggs_read_no_payload(spark, tmp_path):
    """The hint-less pre-scan and the indexed batches' key-only job read the
    event images' PK fields only: nested-column pruning must keep every
    payload field (commit/lang/content/extra) out of the scan's ReadSchema."""
    import io
    import os
    from contextlib import redirect_stdout

    from bifrost_spark.generator import GeneratorConfig, generate_events, write_event_log
    from bifrost_spark.pipelines.replay import _touched_aggs, prescan_agg

    log = str(tmp_path / "log")
    write_event_log(generate_events(spark, GeneratorConfig(n_events=200, n_keys=50, n_repos=5, seed=3)),
                    log, n_chunks=1)
    events = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(log, "chunk=0000"))
    for agg in (prescan_agg(events, 8), events.agg(*_touched_aggs(8))):
        buf = io.StringIO()
        with redirect_stdout(buf):
            agg.explain("formatted")
        read = [ln for ln in buf.getvalue().splitlines() if "ReadSchema" in ln]
        assert read and all("before:struct<repo:string,path:string>" in ln for ln in read), read
        assert not any(f"{f}:" in ln for ln in read for f in ("commit", "lang", "content", "extra")), read


@pytest.mark.parametrize("n_buckets", [1, 64])
def test_readded_column_value_does_not_depend_on_bucket_count(spark, tmp_path, n_buckets):
    """One hint-less batch: ADD COLUMN x, insert A with x=5, DROP COLUMN x,
    insert C, ADD COLUMN x again.  A's value rides its row's ``extra`` map
    through the drop, so A.x = 5 as in the sequential oracle — whether or
    not C's merge rewrites A's bucket (one bucket: always; 64: A and C fall
    in different buckets)."""
    events = _events(spark, [
        (3, "ddl", "ALTER TABLE code.repos ADD COLUMN x INT", None),
        (4, "insert", None, ("r", "A", "a", {"x": "5"})),
        (5, "ddl", "ALTER TABLE code.repos DROP COLUMN x", None),
        (6, "insert", None, ("r", "C", "c")),
        (7, "ddl", "ALTER TABLE code.repos ADD COLUMN x INT", None),
    ])
    if n_buckets > 1:
        b = _buckets_of(spark, [("r", "A"), ("r", "C")], n_buckets)
        assert b[("r", "A")] != b[("r", "C")]
    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    ReplayEngine(table).apply_batch(events)

    expected = sequential_apply(events.toPandas())
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert expected.loc[expected["path"] == "A", "x"].tolist() == [5]
    assert expected.equals(actual[expected.columns.tolist()])


def test_every_file_shares_one_layout_and_read_is_one_scan(spark, tmp_path):
    """Bootstrap, a merge, ADD COLUMN, a merge carrying the new column, a
    hint-less batch with a DDL, then compact: every parquet file the table
    wrote has the same schema — the one layout, DDL-added values in the
    ``extra`` map — and a read over several live snapshots is ONE scan."""
    import glob
    import os

    import pyarrow.parquet as pq

    table = TargetTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    table.bootstrap(spark.createDataFrame(
        [("r", f"k{i}", "c0", "py", "base", 0) for i in range(40)],
        "repo string, path string, commit string, lang string, content string, last_event_id long",
    ))
    table.merge(_resolved(spark, [("r", "k1", "upsert", "c1", "py", "v1", None, 2)]),
                batch_id="b1", batch_range=(2, 2))
    table.apply_ddl("ALTER TABLE code.repos ADD COLUMN stars INT", batch_id="ddl:3", event_id=3)
    table.merge(_resolved(spark, [("r", "k2", "upsert", "c2", "py", "v2", {"stars": "42"}, 4)]),
                batch_id="b2", batch_range=(4, 4))
    ReplayEngine(table).apply_batch(_events(spark, [
        (6, "update", ("r", "k3", "base"), ("r", "k3", "v3", {"stars": "7"})),
        (7, "ddl", "ALTER TABLE code.repos ADD COLUMN notes STRING", None),
        (8, "insert", None, ("r", "new", "n", {"notes": "hi"})),
    ]))

    assert len(set(table.state["buckets"].values())) >= 3
    p = table.read()._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan parquet") == 1, p
    s = _state(table)
    assert (s[("r", "k2")]["stars"], s[("r", "k3")]["stars"], s[("r", "new")]["notes"]) == (42, 7, "hi")

    table.compact()
    assert _state(table) == s
    files = glob.glob(os.path.join(table.path, "data", "*", "bucket=*", "*.parquet"))
    assert len({os.path.dirname(os.path.dirname(f)) for f in files}) >= 5
    schemas = [pq.read_schema(f) for f in files]
    assert all(sc.equals(schemas[0], check_metadata=True) for sc in schemas)
    assert schemas[0].names == merge.FILE_SCHEMA.fieldNames()
