"""Sessionization and event-sequence analytics over event streams.

Gap-based sessionization is the canonical event-analytics operator the
reference's flow counters stop short of (server/count/count.go buckets by
wall-clock second; a session is the per-entity generalization).  Both
operators here are pure window-function pipelines: ONE shuffle on the
entity key, everything after it is a sorted within-partition scan —
whole-stage codegen, no UDFs, no self-joins.

Scale notes:
- the only exchange is hashpartitioning(user_id); windows and the final
  per-session aggregate reuse that partitioning (Catalyst collapses the
  agg into the same exchange), so a 100 TB event log costs exactly one
  shuffle pass.
- a single pathological entity (one user with 10^9 events) lands on one
  reducer — ``salt_days=True`` switches to the two-level mitigation:
  sessionize within (user, day), then stitch across midnights with a
  per-user-DAY aggregate window (one row per user-day — metadata-scale),
  so no reducer ever sees more than one entity-day of events.  Stitched
  output is identical to the plain form (property-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sessionize", "session_stats"]


def _secs(c):
    """Whole-second epoch.  Parquet event-time columns read as
    TIMESTAMP_NTZ, which Spark refuses to cast straight to BIGINT; going
    through TIMESTAMP first is allowed for both flavors.  Only DIFFERENCES
    of this value are ever used, so the session-timezone offset the
    NTZ→TZ cast may introduce cancels — PROVIDED the offset is constant:
    bifrost_spark.session pins spark.sql.session.timeZone=UTC, which has
    no DST transitions.  If that config ever changes to a DST zone,
    differences spanning a transition would shift by the DST delta vs the
    DuckDB oracle's naive epoch(); use to_unix_timestamp on the NTZ value
    directly in that world."""
    return c.cast("timestamp").cast("long")


def _boundary(ts_col: str, gap_minutes: int, w) -> F.Column:
    prev_ts = F.lag(F.col(ts_col)).over(w)
    return (
        prev_ts.isNull()
        | (_secs(F.col(ts_col)) - _secs(prev_ts) > gap_minutes * 60)
    ).cast("long")


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    salt_days: bool = False,
) -> DataFrame:
    """Assign every event a session: a new session starts when the gap to
    the entity's previous event exceeds ``gap_minutes``.  Returns the input
    plus ``session_seq`` (1-based per user).  lag → boundary flag →
    running sum, all in one window pass.  ``tiebreak_col`` breaks ordering
    ties on ``ts_col`` (and the running sum uses an explicit ROWS frame, so
    tied timestamps cannot collapse into one RANGE bucket).

    ``salt_days=True``: hot-entity mitigation — level 1 sessionizes within
    (user, day) so the shuffle key is (user, day); level 2 renumbers
    globally from a per-user-day stitch table: with k_d = day d's local
    session count and m_d = 1 iff day d's first event continues day d-1's
    last session (gap <= threshold), global id of local session j on day d
    is  S_{d-1} + j - m_d  where  S_d = Σ_{d'<=d} (k_d' - m_d').  The
    stitch window runs over ONE ROW PER USER-DAY, so the pathological
    entity costs one reducer only its day count, not its event count."""
    if not salt_days:
        w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
        wseq = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return events.withColumn(
            "session_seq", F.sum(_boundary(ts_col, gap_minutes, w)).over(wseq)
        )

    # internal columns carry reserved names, so an input column of the
    # same name is never overwritten and then dropped
    ev = events.withColumn("__bifrost_day", F.to_date(F.col(ts_col)))
    wd = Window.partitionBy(user_col, "__bifrost_day").orderBy(F.col(ts_col), F.col(tiebreak_col))
    wdseq = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = ev.withColumn("__bifrost_local_seq", F.sum(_boundary(ts_col, gap_minutes, wd)).over(wdseq))
    per_day = ev.groupBy(user_col, "__bifrost_day").agg(
        F.min(ts_col).alias("__bifrost_first_ts"),
        F.max(ts_col).alias("__bifrost_last_ts"),
        F.max("__bifrost_local_seq").alias("__bifrost_k"),
    )
    wu = Window.partitionBy(user_col).orderBy("__bifrost_day")
    prev_last = F.lag("__bifrost_last_ts").over(wu)
    m = (
        prev_last.isNotNull()
        & (_secs(F.col("__bifrost_first_ts")) - _secs(prev_last) <= gap_minutes * 60)
    ).cast("long")
    cum = wu.rowsBetween(Window.unboundedPreceding, -1)
    stitch = (
        per_day.withColumn("__bifrost_m", m)
        .withColumn("__bifrost_s_prev", F.coalesce(
            F.sum(F.col("__bifrost_k") - F.col("__bifrost_m")).over(cum), F.lit(0)))
        .select(F.col(user_col).alias("__bifrost_user"), F.col("__bifrost_day").alias("__bifrost_sday"),
                "__bifrost_m", "__bifrost_s_prev")
    )
    # null-safe keys: NULL-ts rows (a NULL day) and a NULL user are one more
    # group to the plain window, so they must find their stitch row too
    on = (F.col(user_col).eqNullSafe(F.col("__bifrost_user"))
          & F.col("__bifrost_day").eqNullSafe(F.col("__bifrost_sday")))
    return (
        ev.join(stitch, on)
        .withColumn("session_seq",
                    F.col("__bifrost_s_prev") + F.col("__bifrost_local_seq") - F.col("__bifrost_m"))
        .drop("__bifrost_day", "__bifrost_local_seq", "__bifrost_m", "__bifrost_s_prev",
              "__bifrost_user", "__bifrost_sday")
    )


def session_stats(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    salt_days: bool = False,
) -> DataFrame:
    """Per-session rollup: bounds, event count, value total, duration.
    The groupBy keys start with ``user_col`` — the sessionize window's
    partitioning — so Catalyst plans the aggregate WITHOUT a second
    exchange.  Columns are pruned BEFORE the window: a window operator
    carries whole rows through its shuffle, so leaving payload columns
    (the props JSON blob) attached would multiply shuffle bytes for
    nothing."""
    events = events.select(user_col, ts_col, tiebreak_col, value_col)
    s = sessionize(events, gap_minutes=gap_minutes, user_col=user_col,
                   ts_col=ts_col, tiebreak_col=tiebreak_col, salt_days=salt_days)
    return s.groupBy(user_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        (_secs(F.max(F.col(ts_col))) - _secs(F.min(F.col(ts_col)))).alias("duration_sec"),
    )
