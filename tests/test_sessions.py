"""Gap-based sessionization: hand-computed boundaries, single-shuffle plan."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from bifrost_spark.functions.sessions import session_stats, sessionize


def _rows():
    t = lambda m, s=0: datetime(2026, 1, 1, 0, m, s)  # noqa: E731
    return [
        # user 1: two sessions (gap at 45 min > 30)
        (1, t(0), 100, "click", 1.0),
        (2, t(10), 100, "click", 2.0),
        (3, t(55), 100, "buy", 3.0),
        # user 2: one session, events exactly 30 min apart (NOT > gap)
        (4, t(0), 200, "click", 1.5),
        (5, t(30), 200, "click", 2.5),
        # user 3: single event
        (6, t(7), 300, "view", 0.5),
    ]


def _df(spark):
    return spark.createDataFrame(
        _rows(), "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_sessionize_boundaries(spark):
    out = {r["event_id"]: r["session_seq"] for r in sessionize(_df(spark)).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1, 6: 1}


def test_session_stats_rollup(spark):
    got = {(r["user_id"], r["session_seq"]): r for r in session_stats(_df(spark)).collect()}
    assert len(got) == 4
    s11 = got[(100, 1)]
    assert s11["n_events"] == 2 and s11["duration_sec"] == 600 and s11["sum_value"] == 3.0
    s12 = got[(100, 2)]
    assert s12["n_events"] == 1 and s12["duration_sec"] == 0
    s2 = got[(200, 1)]
    assert s2["n_events"] == 2 and s2["duration_sec"] == 1800  # 30:00 gap stays one session
    assert got[(300, 1)]["n_events"] == 1


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Closed streaming sessions equal the batch rollup (no exact-gap events
    in this stream, so both boundary conventions agree); the exact-gap edge
    is pinned separately below."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from bifrost_spark.functions.sessions import session_stats
    from bifrost_spark.streaming.windows import start_session_stream

    rows = [r for r in _rows() if r[0] != 5]  # drop the exactly-30-min event
    # a session only CLOSES once the watermark passes last_event + gap, so a
    # far-future closer event (excluded from the comparison) flushes the tail
    closer = (99, datetime(2026, 1, 1, 6, 0), 999, "c", 0.0)
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(f"{src}/f1.json", "w") as f:
        for eid, ts, user, etype, val in rows + [closer]:
            f.write(_json.dumps({"event_id": eid, "ts": ts.isoformat(), "user_id": user,
                                 "event_type": etype, "value": val}) + "\n")
    schema = T.StructType([
        T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()), T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    out = str(tmp_path / "out")
    q = start_session_stream(spark, src, out, str(tmp_path / "ckpt"), schema,
                             gap="30 minutes", watermark="0 seconds")
    q.awaitTermination()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
           for r in spark.read.parquet(out).collect() if r["user_id"] != 999}
    batch = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double")
    want = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
            for r in session_stats(batch, gap_minutes=30).collect()}
    # availableNow + watermark 0: every session closes by stream end
    assert got == want and len(got) == 4


def test_session_window_exact_gap_edge(spark):
    """Boundary agreement: exactly-gap-apart events merge into ONE session
    under BOTH twins (session_window merges at the inclusive ts+gap edge;
    the batch op splits only on diff > gap) — and one second past the gap
    splits in both."""
    from bifrost_spark.functions.sessions import session_stats
    from bifrost_spark.streaming.windows import session_window_stats

    def pair(sec):
        return spark.createDataFrame(
            [(1, datetime(2026, 1, 1, 0, 0, 0), 1, "c", 1.0),
             (2, datetime(2026, 1, 1, 0, 30, sec), 1, "c", 1.0)],
            "event_id long, ts timestamp, user_id long, event_type string, value double")

    assert session_window_stats(pair(0), gap="30 minutes").count() == 1
    assert session_stats(pair(0), gap_minutes=30).count() == 1
    assert session_window_stats(pair(1), gap="30 minutes").count() == 2
    assert session_stats(pair(1), gap_minutes=30).count() == 2


def test_session_stats_single_shuffle(spark, tmp_path):
    # from a parquet scan (realistic input), the window AND the rollup share
    # one hashpartitioning(user_id) exchange
    p = str(tmp_path / "ev")
    _df(spark).write.parquet(p)
    plan = session_stats(spark.read.parquet(p))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_sessionize_equals_plain(spark):
    """salt_days=True (hot-entity two-level stitch) must be event-for-event
    identical to the plain single-window form — including sessions that
    span one or several midnights, multi-day gaps, tied timestamps, NULL
    timestamps, a NULL user, and input columns that share a name with its
    internals."""
    import random

    from bifrost_spark.functions.sessions import session_stats, sessionize

    rng = random.Random(11)
    rows = []
    eid = 0
    for user in range(6):
        t = datetime(2026, 1, 1, 22, 0, 0)
        for _ in range(rng.randint(5, 120)):
            # mix of small gaps (same session), cross-midnight gaps, and
            # multi-day jumps; a few exact ties on ts
            r = rng.random()
            if r < 0.6:
                step = rng.randint(0, 1500)
            elif r < 0.9:
                step = rng.randint(1801, 7200)
            else:
                step = rng.randint(86000, 200000)
            t = t + timedelta(seconds=step)
            rows.append((eid, t, user, "c", 1.0))
            eid += 1
            if rng.random() < 0.1:  # tied timestamp, tiebreak on event_id
                rows.append((eid, t, user, "c", 1.0))
                eid += 1
    # NULL timestamps (their own sessions, first in the plain window's order)
    # and a NULL user (one more entity to the plain window) across midnight
    rows += [(eid + i, None, user, "c", 1.0) for i, user in enumerate((0, 0, 3))]
    rows += [(eid + 3 + i, datetime(2026, 1, 2, 23, 40) + timedelta(minutes=15 * i), None, "c", 1.0)
             for i in range(3)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double")
    # input columns named like internal columns of the salted path
    df = df.withColumn("_day", F.lit("mine")).withColumn("_m", F.col("event_id") % 3)

    plain = {r["event_id"]: r.asDict() for r in sessionize(df).collect()}
    salted = {r["event_id"]: r.asDict() for r in sessionize(df, salt_days=True).collect()}
    assert len(plain) == len(rows)
    assert salted == plain

    ps = {tuple(r) for r in session_stats(df).collect()}
    ss = {tuple(r) for r in session_stats(df, salt_days=True).collect()}
    assert ss == ps
