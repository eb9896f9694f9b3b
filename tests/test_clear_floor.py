"""Table-clearing DDLs (TRUNCATE, DROP TABLE) inside a batch.

A TRUNCATE or DROP TABLE commits as a metadata-only DDL that clears the
bucket map and records its event_id as the table's clear floor; the batch's
one merge then drops every op below that floor.  These tests pin the
result against the sequential-apply oracle wherever the DDL sits in the
batch, on both the indexed (chunk-index hints) and the hint-less path, and
check that every batch is still exactly one merge commit — also when the
writer dies after any step of any of a batch's commits.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from bifrost_spark.generator import write_chunk_index
from bifrost_spark.metafs import LocalMetaFS
from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.oracle import sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine, replay_event_log
from bifrost_spark.schemas import EVENT_SCHEMA

TS = datetime.datetime(2026, 1, 1)
SNAPSHOT = [(f"s{i}", f"base-{i}") for i in range(6)]
CREATE = ("CREATE TABLE code.repos (repo VARCHAR(255), path VARCHAR(512), "
          "commit CHAR(40), lang VARCHAR(16), content TEXT, stars INT)")
CLEARS = {"truncate": ["TRUNCATE TABLE code.repos"],
          "drop_create": ["DROP TABLE code.repos", CREATE]}
# odd DDL ids per position, around batch 1's data ids 4..40
POSITIONS = {"start": [1, 3], "mid": [21, 23], "end": [41, 43]}


def _image(t):
    # (path, content[, extra]) in repo "r"
    if t is None:
        return None
    return {"repo": "r", "path": t[0], "commit": "c", "lang": "py",
            "content": t[1], "extra": t[2] if len(t) > 2 else None}


def _rows(spec):
    # spec: (event_id, kind, before, after), a "ddl" carrying its query
    # in place of the before image
    return [(eid, 1, eid, kind, "code", "repos", TS, None, None, None, None, b, 0) if kind == "ddl"
            else (eid, 1, eid, kind, "code", "repos", TS, None, None, _image(b), _image(a), None, 0)
            for eid, kind, b, a in spec]


BATCH1 = [
    (4, "insert", None, ("a", "a1")),
    (8, "update", ("s1", "base-1"), ("s1", "s1-v")),
    (12, "insert", None, ("b", "b1")),
    (16, "delete", ("s2", None), None),
    (20, "update", ("a", "a1"), ("a", "a2")),
    (24, "insert", None, ("c", "c1")),
    (28, "update", ("b", "b1"), ("b2", "b-moved")),
    (32, "delete", ("s3", None), None),
    (36, "insert", None, ("d", "d1", {"stars": "7"})),
    (40, "update", ("s4", "base-4"), ("s4", "s4-v")),
]
BATCH2 = [
    (44, "insert", None, ("e", "e1")),
    (48, "update", ("a", "a2"), ("a", "a3")),
    (52, "delete", ("b2", None), None),
    (56, "insert", None, ("s2", "s2-back")),
    (60, "update", ("d", "d1"), ("d", "d2", {"stars": "9"})),
]


def _snapshot(spark):
    return spark.createDataFrame(
        [("r", p, "c0", "py", c, 0) for p, c in SNAPSHOT],
        "repo string, path string, commit string, lang string, content string, last_event_id long",
    )


def _write_log(spark, log, batches):
    """One ``chunk=NNNN`` directory per batch, then the real chunk index."""
    for i, spec in enumerate(batches):
        spark.createDataFrame(_rows(spec), EVENT_SCHEMA).write.parquet(
            os.path.join(log, f"chunk={i:04d}"))
    write_chunk_index(spark, log)


def _replay(spark, path, log, table):
    """Apply every chunk as one batch: ``indexed`` through the chunk index
    (``replay_event_log``), ``hintless`` through ``apply_batch`` alone."""
    if path == "indexed":
        replay_event_log(spark, log, table)
        return
    engine = ReplayEngine(table, ordered=True)
    for chunk in sorted(d for d in os.listdir(log) if d.startswith("chunk=")):
        engine.apply_batch(spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(log, chunk)))


def _assert_matches(spark, table, batches):
    events = spark.createDataFrame(_rows([e for b in batches for e in b]), EVENT_SCHEMA)
    expected = sequential_apply(events.toPandas(), _snapshot(spark).toPandas())
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert list(actual.columns) == list(expected.columns), (actual.columns, expected.columns)
    a = actual.fillna("␀").astype(str)
    e = expected.fillna("␀").astype(str)
    assert a.values.tolist() == e.values.tolist()


@pytest.mark.parametrize("path", ["indexed", "hintless"])
@pytest.mark.parametrize("position", list(POSITIONS))
@pytest.mark.parametrize("clear", list(CLEARS))
def test_clearing_ddl_in_batch_matches_oracle(spark, tmp_path, clear, position, path):
    """A TRUNCATE, or a DROP TABLE followed by a CREATE TABLE, at the start
    of a batch, mid-batch, or after its last data event: the table equals
    the sequential oracle and every batch made exactly one merge commit."""
    ddls = [(eid, "ddl", q, None) for eid, q in zip(POSITIONS[position], CLEARS[clear])]
    batches = [sorted(BATCH1 + ddls), BATCH2]
    log = str(tmp_path / "log")
    _write_log(spark, log, batches)
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    table.bootstrap(_snapshot(spark))

    _replay(spark, path, log, table)

    _assert_matches(spark, table, batches)
    assert table.state["cleared_at"] == POSITIONS[position][0]
    merges = [r for r in table.lineage() if r["kind"] == "merge"]
    assert len(merges) == len(batches), merges


def test_oracle_drop_table_clears_rows():
    """The oracle follows MySQL: a dropped table's rows are gone, so a key
    inserted before DROP TABLE + CREATE TABLE does not survive them."""
    import pandas as pd

    cols = [f.name for f in EVENT_SCHEMA.fields]
    events = pd.DataFrame(_rows([
        (1, "insert", None, ("a", "a1")),
        (2, "ddl", "DROP TABLE code.repos", None),
        (3, "ddl", CREATE, None),
        (4, "insert", None, ("b", "b1")),
    ]), columns=cols)
    out = sequential_apply(events)
    assert out["path"].tolist() == ["b"]
    assert list(out.columns)[-1] == "stars"


def test_late_event_below_truncate_does_not_resurrect(spark, tmp_path):
    """Unordered delivery: after a batch [TRUNCATE@10, insert L@12], a late
    batch [insert K@5] must not land — K is older than the truncate, and the
    cleared table keeps no guard row for it."""
    table = TargetTable.create(spark, str(tmp_path / "tbl"), n_buckets=4)
    engine = ReplayEngine(table, ordered=False)
    first = _rows([(10, "ddl", "TRUNCATE TABLE code.repos", None),
                   (12, "insert", None, ("L", "l1"))])
    late = _rows([(5, "insert", None, ("K", "k1"))])
    engine.apply_batch(spark.createDataFrame(first, EVENT_SCHEMA))
    engine.apply_batch(spark.createDataFrame(late, EVENT_SCHEMA))

    assert [r["path"] for r in table.read().collect()] == ["L"]
    expected = sequential_apply(spark.createDataFrame(first + late, EVENT_SCHEMA).toPandas())
    assert expected["path"].tolist() == ["L"]


class Crash(BaseException):
    """A writer death: not an ``Exception``, so no retry loop catches it."""


# one batch: ADD COLUMN, data, a mid-batch TRUNCATE, data
CRASH_BATCH = [
    (2, "insert", None, ("a", "a1")),
    (3, "ddl", "ALTER TABLE code.repos ADD COLUMN stars INT", None),
    (4, "insert", None, ("b", "b1", {"stars": "5"})),
    (6, "update", ("s1", "base-1"), ("s1", "s1-v")),
    (7, "ddl", "TRUNCATE TABLE code.repos", None),
    (8, "insert", None, ("c", "c1", {"stars": "7"})),
    (10, "insert", None, ("d", "d1")),
    (12, "delete", ("d", None), None),
    (14, "update", ("s2", "base-2"), ("s2", "s2-v", {"stars": "3"})),
]
# the batch's commits — two deferred DDLs, then its one merge — step by step
COMMIT_STEPS = ["manifest", "current", "lineage"] * 2 + ["data", "manifest", "current", "lineage"]


@pytest.fixture()
def crash_at(monkeypatch):
    """Arm with ``crash_at["at"] = k`` to die right after the k-th commit
    step (``COMMIT_STEPS``); ``crash_at["seen"]`` lists the steps taken."""
    ctl = {"at": None, "seen": []}

    def step(name):
        if ctl["at"] is None:
            return
        ctl["seen"].append(name)
        if len(ctl["seen"]) - 1 == ctl["at"]:
            ctl["at"] = None
            raise Crash(name)

    write_buckets, write_text, append = (TargetTable._write_buckets,
                                         LocalMetaFS.write_text_atomic, LocalMetaFS.append_line)

    def _write_buckets(self, *a, **k):
        out = write_buckets(self, *a, **k)
        step("data")
        return out

    def write_text_atomic(self, path, text):
        write_text(self, path, text)
        step("current" if path.endswith("CURRENT") else "manifest")

    def append_line(self, path, line):
        append(self, path, line)
        step("lineage")

    monkeypatch.setattr(TargetTable, "_write_buckets", _write_buckets)
    monkeypatch.setattr(LocalMetaFS, "write_text_atomic", write_text_atomic)
    monkeypatch.setattr(LocalMetaFS, "append_line", append_line)
    return ctl


@pytest.mark.parametrize("path", ["indexed", "hintless"])
def test_crash_after_every_commit_step_resumes_to_oracle(spark, tmp_path, crash_at, path):
    """Kill the writer after each step of each of the batch's commits
    (data written, ``vN.json`` written, ``CURRENT`` swung, lineage
    appended), reopen the table and re-run the batch: the table equals the
    oracle, and ``vacuum()`` leaves only the live snapshots' directories."""
    log = str(tmp_path / "log")
    _write_log(spark, log, [CRASH_BATCH])
    seed = str(tmp_path / "seed")
    TargetTable.create(spark, seed, n_buckets=4).bootstrap(_snapshot(spark))

    # a clean run takes exactly the steps the matrix walks
    clean = str(tmp_path / "clean")
    shutil.copytree(seed, clean)
    crash_at["at"] = len(COMMIT_STEPS)
    _replay(spark, path, log, TargetTable(spark, clean))
    assert crash_at["seen"] == COMMIT_STEPS
    crash_at["at"] = None

    for k, name in enumerate(COMMIT_STEPS):
        tbl = str(tmp_path / f"t{k}")
        shutil.copytree(seed, tbl)
        crash_at["at"], crash_at["seen"] = k, []
        with pytest.raises(Crash):
            _replay(spark, path, log, TargetTable(spark, tbl))
        table = TargetTable(spark, tbl)
        _replay(spark, path, log, table)
        _assert_matches(spark, table, [CRASH_BATCH])
        assert table.state["cleared_at"] == 7, (k, name)
        table.vacuum()
        live = set(table.state["buckets"].values())
        assert set(os.listdir(os.path.join(tbl, "data"))) == live, (k, name)
