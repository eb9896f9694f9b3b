"""LWW resolver: hand-built cases + one terminal op per key on generated data."""

import datetime

from pyspark.sql import functions as F

from bifrost_spark.generator import GeneratorConfig, generate_events
from bifrost_spark.operators.lww import events_to_ops, resolve_lww
from bifrost_spark.schemas import EVENT_SCHEMA

TS = datetime.datetime(2024, 1, 1)


def _ev(eid, etype, before=None, after=None):
    def pay(d):
        if d is None:
            return None
        return (d.get("repo"), d.get("path"), d.get("commit"), d.get("lang"), d.get("content"), d.get("extra"))

    return (eid, 1, eid * 10, etype, "code", "repos", TS, None, ["repo", "path"], pay(before), pay(after), None, 0)


def _df(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_insert_update_delete_sequence(spark):
    rows = [
        _ev(2, "insert", after={"repo": "r", "path": "a", "content": "v1"}),
        _ev(4, "update", before={"repo": "r", "path": "a"}, after={"repo": "r", "path": "a", "content": "v2"}),
        _ev(6, "insert", after={"repo": "r", "path": "b", "content": "b1"}),
        _ev(8, "delete", before={"repo": "r", "path": "b"}),
    ]
    out = {(r["repo"], r["path"]): r for r in resolve_lww(events_to_ops(_df(spark, rows))).collect()}
    assert out[("r", "a")]["op"] == "upsert" and out[("r", "a")]["content"] == "v2"
    assert out[("r", "b")]["op"] == "delete"


def test_pk_changing_update_emits_delete_and_upsert(spark):
    rows = [
        _ev(2, "insert", after={"repo": "r", "path": "old", "content": "v1"}),
        _ev(4, "update", before={"repo": "r", "path": "old"}, after={"repo": "r", "path": "new", "content": "v2"}),
    ]
    out = {(r["repo"], r["path"]): r for r in resolve_lww(events_to_ops(_df(spark, rows))).collect()}
    assert out[("r", "old")]["op"] == "delete"
    assert out[("r", "new")]["op"] == "upsert" and out[("r", "new")]["content"] == "v2"


def test_delete_then_reinsert_wins(spark):
    rows = [
        _ev(2, "insert", after={"repo": "r", "path": "a", "content": "v1"}),
        _ev(4, "delete", before={"repo": "r", "path": "a"}),
        _ev(6, "insert", after={"repo": "r", "path": "a", "content": "v3"}),
    ]
    out = resolve_lww(events_to_ops(_df(spark, rows))).collect()
    assert len(out) == 1 and out[0]["op"] == "upsert" and out[0]["content"] == "v3"


def test_one_terminal_op_per_key(spark):
    cfg = GeneratorConfig(n_events=2000, n_keys=100, n_repos=10, seed=13)
    resolved = resolve_lww(events_to_ops(generate_events(spark, cfg)))
    assert resolved.groupBy("repo", "path").count().filter(F.col("count") > 1).count() == 0
