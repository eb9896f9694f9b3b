"""Last-writer-wins resolution — the engine's core operator.

Re-expresses the reference's batch dedup before every sink write:
- MySQL-sink "normal" mode reverse-iterates the batch and keeps the FIRST
  hit per PK, i.e. the latest op
  (/root/reference/plugin/mysql/src/mysql_normal_sync.go:16-146);
- ClickHouse-sink mode splits updates into delete(before-image) +
  insert(after-image) sets (/root/reference/plugin/clickhouse/src/normal_sync.go:18-203),
  which is what makes PK-CHANGING updates correct.

Spark-first design notes (scale):
- ``events_to_ops`` is a narrow op: one ``explode`` of a 2-element array —
  no shuffle.  An update only fans out to (delete, upsert) when the PK
  actually changed; the intra-event order is encoded in ``seq =
  event_id*2 (+1 for the upsert)`` so LWW stays a single max.
- The default ``agg`` strategy is ``groupBy(pk).agg(max_by(payload, seq))``:
  one pass over the source with map-side partial combine before the
  shuffle, so hot keys (the linux/chromium mega-repos) collapse early,
  with AQE skew handling on top.  Spark executes struct-buffer aggregates
  as SortAggregate, but measured A/B (see resolve_lww docstring) the
  single pass beats the no-sort late-materialization ``hash`` variant,
  which must consume the source twice.  A window/row_number plan, by
  contrast, must shuffle EVERY raw event of a hot key to one partition.
- ``salted_window`` implements the explicit two-phase salt for comparison
  and for engines without max_by partial pushdown: LWW within (pk, salt),
  then LWW across salts — associative because LWW is max by seq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bifrost_spark.schemas import PK_COLUMNS

OP_PAYLOAD = ["commit", "lang", "content", "extra"]


def lww_key_expr():
    """The LWW identity of a raw EVENT row (after-image PK; before-image
    for deletes) as one string column — built from PK_COLUMNS so key
    definition has a single source of truth.  Used for the distinct-key
    estimates that drive the fused merge's hot-key cost decision.

    Known bias, fine for a cost heuristic: a PK-changing update expands to
    TWO ops on two distinct keys downstream but counts one key here, and
    concat_ws skips NULL components, so distinct keys are slightly
    UNDERestimated — the ops/keys ratio reads high and pre-LWW arms a bit
    more eagerly than the true ratio warrants.  That errs toward the safe
    side (an extra map-side combine) and only matters if
    BIFROST_FUSED_PRELWW_RATIO is ever tightened toward 1."""
    return F.concat_ws(
        "\x01",
        *[F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")) for c in PK_COLUMNS],
    )


def events_to_ops(events: DataFrame) -> DataFrame:
    """Normalize insert/update/delete events into keyed ops.

    Output: one row per (pk, op) with ``op in ('upsert','delete')`` and a
    total-order ``seq``.  update = delete(before-PK) + upsert(after) when the
    PK changed, else a single upsert — mirroring normal_sync.go:45-79 where
    k%2==0 selects the before image.
    """
    # Built as SQL-expression STRINGS, not Column compositions: this runs
    # once per micro-batch on the driver, and the Column-by-Column version
    # cost ~125 ms of Py4J round trips per batch (~60 JVM calls) — pure
    # driver-side serial time that Amdahl charges against every added
    # executor.  selectExpr collapses it to 3 calls; the analyzed plan is
    # identical (same CASE WHEN null semantics as F.when).
    del_struct = """
        CASE WHEN event_type = 'delete'
               OR (event_type = 'update' AND before IS NOT NULL
                   AND (before.repo != after.repo OR before.path != after.path))
        THEN named_struct(
            'op', 'delete', 'repo', before.repo, 'path', before.path,
            'commit', CAST(NULL AS STRING), 'lang', CAST(NULL AS STRING),
            'content', CAST(NULL AS STRING),
            'extra', CAST(NULL AS MAP<STRING,STRING>),
            'seq', event_id * 2)
        END"""
    ups_struct = """
        CASE WHEN event_type != 'delete'
        THEN named_struct(
            'op', 'upsert', 'repo', after.repo, 'path', after.path,
            'commit', after.commit, 'lang', after.lang,
            'content', after.content, 'extra', after.extra,
            'seq', event_id * 2 + 1)
        END"""
    return (
        events.where("event_type IN ('insert', 'update', 'delete')")
        .selectExpr(
            "event_id",
            "schema_version",
            f"explode(filter(array({del_struct}, {ups_struct}), x -> x IS NOT NULL)) AS o",
        )
        .selectExpr("event_id", "schema_version", "o.*")
    )


def resolve_lww(ops: DataFrame, strategy: str = "agg", n_salts: int = 16,
                keys: list[str] | None = None, payload: list[str] | None = None) -> DataFrame:
    """Collapse ops to at most one terminal op per key (latest seq wins).

    ``keys`` are the grouping columns (default the PK) and ``payload`` the
    columns carried from the winning op (default op, ``OP_PAYLOAD``,
    event_id, schema_version); the result is keys + payload + ``seq``.
    ``TargetTable.apply_ops`` runs its one merge aggregate through here with
    keys ``(bucket, *PK)`` and the table's current columns as payload.

    ``strategy``:
      - ``agg`` (default): one-pass ``max_by(payload_struct, seq)``.
        Spark plans struct-buffer aggregates as SortAggregate (no hash
        exec for non-primitive buffers), but measured head-to-head the
        single pass still wins: partition-local sorts of in-memory rows
        are cheap next to a second source scan.
      - ``hash``: LATE MATERIALIZATION — narrow ``max(seq)`` per key
        (primitive buffer → HashAggregate) + ``shuffle_hash`` LEFT SEMI
        fetch of the winning rows; nothing sorts, but the source is
        consumed twice (winners + fetch).  Wins only when ``ops`` is
        already materialized (cached/checkpointed) AND payloads are wide;
        measured at 8M cached ops × ~400B rows it LOSES to ``agg``
        (2.0s vs 0.9s at local[32]) — kept as the option it is, with the
        measurement, not the theory, in charge.  Requires ``(key, seq)``
        unique, which ``events_to_ops`` guarantees.
      - ``window``: row_number() == 1 — the literal translation of
        mysql_normal_sync.go's reverse scan; shuffles all rows per key.
      - ``salted_window``: two-phase window with explicit hot-key salting
        (SURVEY.md §4 custom-work item 4).
    All strategies return identical results (property-tested).
    """
    keys = list(PK_COLUMNS) if keys is None else list(keys)
    payload = ["op", *OP_PAYLOAD, "event_id", "schema_version"] if payload is None else list(payload)
    out_cols = [*keys, *payload, "seq"]
    if strategy == "hash":
        winners = ops.groupBy(*keys).agg(F.max("seq").alias("_wseq")).hint("shuffle_hash")
        cond = (ops["seq"] == winners["_wseq"])
        for c in keys:
            cond = cond & (ops[c] == winners[c])
        return ops.join(winners, on=cond, how="left_semi").select(*out_cols)
    if strategy == "agg":
        val = F.struct(*payload)
        out = ops.groupBy(*keys).agg(F.max_by(val, F.col("seq")).alias("v"), F.max("seq").alias("seq"))
        return out.select(*keys, "v.*", "seq")
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(F.desc("seq"))
        return (
            ops.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*out_cols)
        )
    if strategy == "salted_window":
        salted = ops.withColumn("_salt", F.pmod(F.xxhash64("seq"), F.lit(n_salts)))
        w1 = Window.partitionBy(*keys, "_salt").orderBy(F.desc("seq"))
        within = salted.withColumn("_rn", F.row_number().over(w1)).filter(F.col("_rn") == 1).drop("_rn")
        w2 = Window.partitionBy(*keys).orderBy(F.desc("seq"))
        return (
            within.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select(*out_cols)
        )
    raise ValueError(f"unknown strategy {strategy!r}")
