"""Property tests (hypothesis) — the rebuild of the reference's randomized
plugin-test layer (/root/reference/sdk/pluginTestData/data.go: random op
streams tracked against an in-memory history, SURVEY.md §5 layer 2).

Properties:
1. resolve_lww equals a plain sequential fold (last op per PK wins) on any
   op stream;
2. TargetTable.merge over ANY split of the stream into ordered batches
   yields the same final state as one big batch (manifest/guard soundness).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bifrost_spark.operators.lww import resolve_lww
from bifrost_spark.operators.merge import TargetTable

KEYS = [("r1", "a"), ("r1", "b"), ("r2", "a"), ("hot", "x")]


@st.composite
def op_streams(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    ops = []
    for i in range(n):
        repo, path = draw(st.sampled_from(KEYS))
        kind = draw(st.sampled_from(["upsert", "upsert", "delete"]))
        ops.append(
            (repo, path, kind,
             None if kind == "delete" else f"c{i}",
             None if kind == "delete" else "py",
             None if kind == "delete" else f"v{i}",
             None, (i + 1) * 2)
        )
    return ops


def _ops_df(spark, ops):
    rows = [(r, p, k, c, lang, v, x, eid * 2 + (1 if k == "upsert" else 0),
             eid, 0) for (r, p, k, c, lang, v, x, eid) in ops]
    return spark.createDataFrame(
        rows,
        "repo string, path string, op string, commit string, lang string, "
        "content string, extra map<string,string>, seq long, event_id long, "
        "schema_version int",
    )


def _fold(ops):
    state = {}
    for r, p, k, c, lang, v, x, eid in ops:
        state[(r, p)] = None if k == "delete" else (c, lang, v, eid)
    return {k: v for k, v in state.items()}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=op_streams())
def test_lww_strategies_agree_and_match_fold(spark, ops):
    resolved_ops = {
        (r["repo"], r["path"]): (r["op"], r["commit"], r["content"], r["event_id"])
        for r in resolve_lww(_ops_df(spark, ops)).collect()
    }
    fold = _fold(ops)
    for (r, p), resolved in resolved_ops.items():
        op, commit, content, eid = resolved
        if fold[(r, p)] is None:
            assert op == "delete"
        else:
            c, lang, v, feid = fold[(r, p)]
            assert (op, commit, content) == ("upsert", c, v)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=op_streams(), split=st.data())
def test_merge_batch_split_invariance(spark, tmp_path_factory, ops, split):
    sorted_ops = sorted(ops, key=lambda o: o[-1])
    cut = split.draw(st.integers(min_value=0, max_value=len(sorted_ops)))
    base = tmp_path_factory.mktemp("prop")

    def run(batches):
        t = TargetTable.create(spark, str(base / f"t{len(batches)}_{cut}"), n_buckets=4)
        for i, b in enumerate(batches):
            if not b:
                continue
            lo, hi = b[0][-1], b[-1][-1]
            resolved = resolve_lww(_ops_df(spark, b))
            t.merge(resolved, batch_id=f"b{i}:{lo}-{hi}", batch_range=(lo, hi))
        return {
            (r["repo"], r["path"]): (r["commit"], r["content"])
            for r in t.read().collect()
        }

    one = run([sorted_ops])
    two = run([sorted_ops[:cut], sorted_ops[cut:]])
    assert one == two
