"""Adversarial-shape property test (hypothesis): random event streams —
unicode and empty-string PKs, NULL content, PK-changing updates, deletes of
absent keys, arbitrary batch splits — through the FULL TargetTable apply
must equal the sequential-apply oracle frame for frame and on the
north-rule sha map.

Complements test_property_lww (op-level algebra) and test_replay_e2e (the
generator's realistic distribution) with shapes the generator never emits:
this is the rebuild of the reference's randomized any-value-survives layer
(/root/reference/sdk/pluginTestData/data.go) pointed at the merge engine.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bifrost_spark.operators.merge import TargetTable
from bifrost_spark.oracle import content_sha_map, sequential_apply
from bifrost_spark.pipelines.replay import ReplayEngine
from bifrost_spark.schemas import EVENT_SCHEMA

KEYS = [
    ("répo/λ", "src/päth.py"),
    ("r", ""),                      # empty-string path is a legal PK value
    ("", "p"),                      # empty-string repo too
    ("linux", "hot/file.c"),
    ("🚀", "emoji/path"),
]
CONTENTS = ["", "unicode ✓ λ 中文 \t tab", "x" * 512, None, "line1\nline2"]
TS = datetime.datetime(2026, 1, 1, 0, 0, 0)


@st.composite
def event_streams(draw):
    n = draw(st.integers(min_value=2, max_value=22))
    events = []
    for i in range(n):
        event_id = (i + 1) * 2
        kind = draw(st.sampled_from(["insert", "update", "update", "delete"]))
        key = draw(st.sampled_from(KEYS))
        payload = {
            "repo": key[0], "path": key[1],
            "commit": draw(st.sampled_from(["c1", "c2", None])),
            "lang": draw(st.sampled_from(["py", None])),
            "content": draw(st.sampled_from(CONTENTS)),
            "extra": None,
        }
        if kind == "insert":
            before = None
            after = payload
        elif kind == "delete":
            before = {**payload, "commit": None, "lang": None, "content": None}
            after = None
        else:  # update, sometimes PK-changing
            new_key = draw(st.sampled_from(KEYS))
            before = payload
            after = {**payload, "repo": new_key[0], "path": new_key[1],
                     "content": draw(st.sampled_from(CONTENTS))}
        events.append((event_id, 1, event_id, kind, "code", "repos", TS,
                       None, None, before, after, None, 0))
    # arbitrary batch split points (1-3 batches over the id range); there
    # are only n-1 distinct interior split points, so cap n_splits there —
    # round-3 verdict: st.sets(min_size=2) over a 1-element domain raises
    # hypothesis.errors.InvalidArgument when n == 2.
    n_splits = draw(st.integers(min_value=0, max_value=min(2, n - 1)))
    splits = sorted(draw(st.sets(st.integers(min_value=1, max_value=n - 1),
                                 min_size=n_splits, max_size=n_splits)))
    return events, splits


def _batches(events, splits):
    bounds = [0, *splits, len(events)]
    return [events[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)
            if bounds[i] < bounds[i + 1]]


def test_empty_final_state_both_paths(spark, tmp_path_factory):
    """Pinned regression (round-2 falsifying example): a stream that deletes
    every inserted key leaves an EMPTY final state; the frame-level compare
    must still hold (dtype-stable empty oracle frame, bifrost_spark/oracle.py).
    The name predates the single apply path, when this ran once per path."""
    payload = {"repo": "r", "path": "p", "commit": "c1", "lang": "py",
               "content": "body", "extra": None}
    tomb = {**payload, "commit": None, "lang": None, "content": None}
    events = [
        (2, 1, 2, "insert", "code", "repos", TS, None, None, None, payload, None, 0),
        (4, 1, 4, "delete", "code", "repos", TS, None, None, tomb, None, None, 0),
    ]
    df = spark.createDataFrame(events, EVENT_SCHEMA)
    expected = sequential_apply(df.toPandas())
    assert expected.empty and str(expected["last_event_id"].dtype) == "int64"

    base = tmp_path_factory.mktemp("empty")
    table = TargetTable.create(spark, str(base / "tbl"), n_buckets=4)
    ReplayEngine(table, ordered=True).apply_batch(df)
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == content_sha_map(expected)
    assert expected.equals(actual[expected.columns.tolist()])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(event_streams())
def test_random_event_streams_match_oracle(spark, tmp_path_factory, data):
    events, splits = data
    df = spark.createDataFrame(events, EVENT_SCHEMA)
    expected = sequential_apply(df.toPandas())
    exp_sha = content_sha_map(expected)

    base = tmp_path_factory.mktemp("prop")
    table = TargetTable.create(spark, str(base / "tbl"), n_buckets=4)
    engine = ReplayEngine(table, ordered=True)
    for batch in _batches(events, splits):
        engine.apply_batch(spark.createDataFrame(batch, EVENT_SCHEMA))
    actual = table.to_pandas_sorted().reset_index(drop=True)
    assert content_sha_map(actual) == exp_sha
    assert expected.equals(actual[expected.columns.tolist()])
    # redelivery of the final batch is a pure no-op under ordered mode
    res = engine.apply_batch(spark.createDataFrame(events[-3:], EVENT_SCHEMA))
    assert all(r.get("skipped") or r.get("n_ops") == 0 for r in res), res


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])
