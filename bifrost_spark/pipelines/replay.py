"""Replay engine: ordered change-event batches → LWW → MERGE, one merge per batch.

This is the Spark-side equivalent of the reference's consume loop
(/root/reference/server/to_server_consume.go:50-484): a micro-batch replaces
the bounded queue + 500-event sink transaction
(/root/reference/plugin/mysql/src/mysql.go:482-668), and each micro-batch is
ONE atomic, idempotent sink commit — the unit Structured Streaming builds
exactly-once on.  The reference wraps every DDL in a synthetic BEGIN/COMMIT
(/root/reference/Bristol/mysql/conn_dump.go:242-277); here no DDL splits a
batch: rows carry DDL-added values by name in their ``extra`` map, so schema
changes commute with the merge, and a TRUNCATE or DROP TABLE records a clear
floor in the table (``TargetTable.apply_ddl``) below which the merge drops
every op (SURVEY.md §7 "DDL barrier").

``apply_batch`` takes ANY set of events (a chunk, a streaming micro-batch,
an overlapping replay) and is idempotent: merge batch_ids derive from the
actual event_id range, and the TargetTable manifest skips applied ranges.
DDL events are collected driver-side — there are only ever a handful per
stream — while all row data stays distributed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bifrost_spark.operators.lww import events_to_ops, lww_key_expr
from bifrost_spark.operators.merge import TargetTable, bucket_expr
from bifrost_spark.schemas import EVENT_SCHEMA


def _touched_aggs(n_buckets: int, live=None) -> list:
    """Aggregates naming the buckets a batch of EVENTS touches, for the
    aggregation that already scans it: the after-image's bucket of every
    non-delete event and the before-image's bucket of every event that
    carries one (a delete, or an update — a PK-changing update touches
    both).  A superset of the buckets of ``events_to_ops``'s ops;
    ``_touched`` unions the two sets of the collected row.  "Carries a
    before image" is tested on the image's PK fields, not the whole
    struct, so nested-column pruning keeps the scan to
    ``before:struct<repo,path>`` — never an update's or delete's payload."""
    live = F.lit(True) if live is None else live
    has_before = ((F.col("event_type") == "delete")
                  | F.col("before.repo").isNotNull() | F.col("before.path").isNotNull())
    return [
        F.collect_set(F.when(live & (F.col("event_type") != "delete"),
                             bucket_expr(n_buckets, "after"))).alias("touched_after"),
        F.collect_set(F.when(live & has_before,
                             bucket_expr(n_buckets, "before"))).alias("touched_before"),
    ]


def _touched(row) -> list[int]:
    return sorted(set(row["touched_after"]) | set(row["touched_before"]))


def prescan_agg(events: DataFrame, n_buckets: int, live=None) -> DataFrame:
    """The one stats aggregation a hint-less batch runs before its merge,
    uncollected: over the ``live`` events, their count, event_id range,
    distinct-key estimate and touched buckets (``_touched_aggs``), plus the
    batch's DDL events in event_id order.
    Column pruning keeps its scan to event_id, event_type, query and the
    images' PK fields."""
    live = F.lit(True) if live is None else live
    return events.agg(
        F.count(F.when(live, 1)).alias("n"),
        F.min(F.when(live, F.col("event_id"))).alias("lo"),
        F.max(F.when(live, F.col("event_id"))).alias("hi"),
        F.approx_count_distinct(F.when(live, lww_key_expr())).alias("keys_est"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "ddl", F.struct("event_id", "query")))
        ).alias("ddls"),
        *_touched_aggs(n_buckets, live),
    )


def _gtid_range(first: str | None, last: str | None) -> str | None:
    """Source-hint GTID range → a GtidSet string ``uuid:txid_lo-txid_hi``
    for the manifest's gtid_executed view.  Only emitted when both ends
    carry the same source uuid and numeric txids (single-source binlog
    semantics: the txid sequence within one uuid is gap-free, which is what
    makes the range form exact)."""
    try:
        u1, t1 = (first or "").rsplit(":", 1)
        u2, t2 = (last or "").rsplit(":", 1)
        if u1 and u1 == u2:
            return f"{u1}:{int(t1)}-{int(t2)}"
    except ValueError:
        pass
    return None


class ReplayEngine:
    def __init__(self, table: TargetTable, ordered: bool = True,
                 auto_compact_snapshots: int | None = None,
                 on_error: str = "fail", max_retries: int = 2):
        # ordered=True: batches arrive in global event_id order (the chunked
        # replay driver sorts chunks) → the F9 stale-event skip below is safe
        # and makes re-delivered prefixes true no-ops.  ordered=False (e.g. a
        # streaming file source, which does NOT guarantee file order):
        # correctness falls back to manifests + the commutative
        # tombstone/guard merge; no high-water-mark skipping.
        #
        # auto_compact_snapshots=N: after a batch, if the table's live
        # buckets span more than N snapshots (each adds one scan+union to
        # every read), compact + vacuum.  In ordered mode the stale-event
        # skip guarantees nothing at-or-below last_event_id can ever land,
        # so it doubles as a SAFE tombstone-GC low-water mark; unordered
        # mode compacts without tombstone GC (a late batch may still need
        # the tombstone guard).
        # on_error: "fail" = the reference's must-be-success mode (raise after
        # max_retries, operator intervenes); "dead_letter" = quarantine the
        # poison batch's raw events + commit an explicit skip record, stream
        # proceeds (/root/reference/server/to_server_consume.go:228-289).
        # Retries re-run the whole idempotent merge — a transient failure
        # (executor loss, storage hiccup) succeeds on a later attempt with
        # no duplicate effects because the commit point is the atomic
        # CURRENT swing.
        self.table = table
        self.ordered = ordered
        self.auto_compact_snapshots = auto_compact_snapshots
        self.on_error = on_error
        self.max_retries = max_retries

    def maybe_maintain(self) -> dict | None:
        n = self.auto_compact_snapshots
        if n is None:
            return None
        live = set(self.table.state["buckets"].values())
        if len(live) <= n:
            return None
        lwm = self.table.last_event_id if self.ordered else None
        res = self.table.compact(tombstone_low_water_mark=lwm)
        res["vacuum"] = self.table.vacuum()
        res["kind"] = "auto_compact"
        return res

    def apply_batch(self, events: DataFrame, hints: dict | None = None) -> list[dict]:
        """Apply one micro-batch as ONE merge: the DDLs below its last live
        data event commit first (metadata-only, high-water mark deferred —
        see ``TargetTable.apply_ddl``), then one resolve-LWW + MERGE of every
        live data event, then the DDLs after it.  No DDL splits the merge:
        rows carry DDL-added values by name, so a schema change commutes
        with it, and a TRUNCATE or DROP TABLE leaves a clear floor in the
        table that drops the batch's older ops inside the merge itself.

        The merge needs the batch's live-event count, event_id range,
        distinct-key estimate, touched buckets and DDL list.  With
        source-supplied ``hints`` — a chunk's ``n_data``, ``lo``, ``hi``,
        ``gtid_first``, ``gtid_last``, ``keys_est`` and ``ddls`` (a binlog
        source knows its position ranges and sees DDLs inline;
        ``write_event_log`` persists them as ``_chunks.json``) — only the
        touched buckets cost a job, a key-only one.  Without hints, ONE
        column-pruned aggregation (``prescan_agg``) yields them all (driver
        jobs carry fixed scheduling latency that extra cores cannot
        reduce).  Hints are trusted only when the batch holds no data or all
        of it is above the committed high-water mark; a partially-replayed
        batch (crash resume) falls back to the scan.
        """
        lwm = self.table.last_event_id if self.ordered else -1
        is_data = F.col("event_type").isin("insert", "update", "delete")
        live = is_data & (F.col("event_id") > F.lit(lwm))
        indexed = hints is not None and (hints["lo"] is None or hints["lo"] > lwm)
        if not indexed:
            # Scan path (the streaming file stream, an external caller): the
            # batch is consumed at least twice (this stats agg, then the
            # merge), so persist it — the stats agg materializes the cache
            # and every later consumer reads memory instead of re-scanning
            # the source.  Also what makes the stream's numInputRows metric
            # equal the true event count (one source scan per micro-batch).
            events = events.persist()
        try:
            if indexed:
                n, lo, hi, keys_est = hints["n_data"], hints["lo"], hints["hi"], hints.get("keys_est")
                ddls, touched, stats_ms = hints.get("ddls", []), None, 0.0
                gtid_set = _gtid_range(hints.get("gtid_first"), hints.get("gtid_last"))
            else:
                t0 = time.time()
                r = prescan_agg(events, self.table.n_buckets, live).collect()[0]
                stats_ms = (time.time() - t0) * 1000
                n, lo, hi, keys_est = r["n"], r["lo"], r["hi"], r["keys_est"]
                ddls, touched, gtid_set = r["ddls"], _touched(r), None

            def ddl(d, defer_lwm: bool) -> dict:
                return self.table.apply_ddl(
                    d["query"], batch_id=f"ddl:{d['event_id']}", event_id=d["event_id"],
                    range_exclusive=self.ordered, defer_lwm=defer_lwm)

            ddls = sorted(ddls, key=lambda d: d["event_id"])
            early = [d for d in ddls if hi is not None and d["event_id"] < hi]
            results = [ddl(d, True) for d in early]
            results.extend(self._merge(events.filter(live), n, lo, hi, keys_est, touched,
                                       gtid_set=gtid_set, stats_ms=stats_ms))
            results.extend(ddl(d, False) for d in ddls[len(early):])
            return results
        finally:
            if not indexed:
                events.unpersist()

    def _merge(self, events: DataFrame, n: int, lo: int | None, hi: int | None,
               keys_est: int | None, touched: list[int] | None,
               gtid_set: str | None = None, stats_ms: float = 0.0) -> list[dict]:
        # ``events`` are the batch's live data events: under ordered
        # delivery ``live`` holds the F9 stale-event skip (reference:
        # channel_consume.go:300-314) — a redelivered batch, even one sliced
        # differently than the original (checkpoint wipe, changed trigger
        # size), contributes nothing below the committed high-water mark, so
        # replays are true no-ops rather than guard-protected rewrites.
        if n == 0:
            return []
        batch_id = f"merge:{lo}-{hi}"
        if self.table.is_applied(batch_id, (lo, hi), range_exclusive=self.ordered):
            return [{"skipped": True, "batch_id": batch_id}]
        if touched is None:
            # indexed batches skip the pre-scan: one key-only job reads just
            # the image PKs (nested-column pruning) to name the buckets
            touched = _touched(events.agg(*_touched_aggs(self.table.n_buckets)).collect()[0])
        last_err: Exception | None = None
        for attempt in range(self.max_retries + 1):
            try:
                res = self.table.apply_ops(
                    events_to_ops(events), batch_id=batch_id, batch_range=(lo, hi),
                    n_ops_hint=n, n_keys_hint=keys_est,
                    range_exclusive=self.ordered, gtid_set=gtid_set, touched=touched,
                )
                res["stats_ms"] = round(stats_ms, 1)
                if attempt:
                    res["retries"] = attempt
                return [res]
            except Exception as e:  # noqa: BLE001 — sink/task failures of any shape
                last_err = e
        if self.on_error != "dead_letter":
            raise last_err
        return [self.table.quarantine(events, batch_id, (lo, hi), error=repr(last_err))]


def gtid_resume_chunk(log_path: str, table: TargetTable) -> int:
    """GTID-first resume (the reference's COM_BINLOG_DUMP_GTID semantics,
    /root/reference/Bristol/mysql/conn_dump.go:32-95 + mysql_gtid.go): find
    the first chunk whose GTID range is NOT fully contained in the table's
    ``gtid_executed``, i.e. where a slave reconnecting with
    ``@slave_connect_state = gtid_executed`` would be resumed.  Falls back
    to 0 when the log carries no chunk index or no gtids (position-based
    resume via manifests still applies)."""
    from bifrost_spark.gtid import GtidSet
    from bifrost_spark.metafs import load_chunk_index

    index = load_chunk_index(log_path, spark=table.spark)
    if not index:
        return 0
    executed = GtidSet.parse(table.gtid_executed)
    for i, chunk in enumerate(sorted(index)):
        rng = _gtid_range(index[chunk].get("gtid_first"), index[chunk].get("gtid_last"))
        if rng is None or not executed.contains(rng):
            return i
    return len(index)


def replay_event_log(
    spark: SparkSession,
    log_path: str,
    table: TargetTable,
    start_chunk: int = 0,
    end_chunk: int | None = None,
    ordered: bool = True,
    auto_compact_snapshots: int | None = None,
) -> list[dict]:
    """Chunked batch replay of a ``write_event_log`` directory in order —
    the micro-batch emulation driver (SURVEY.md §7 step 3).  ``start_chunk``
    lets a killed run resume; re-running committed chunks is a no-op via
    manifests (exactly-once)."""
    from bifrost_spark.metafs import load_chunk_index, metafs_for

    engine = ReplayEngine(table, ordered=ordered,
                          auto_compact_snapshots=auto_compact_snapshots)
    chunks = sorted(d for d in metafs_for(spark, log_path).listdir(log_path)
                    if d.startswith("chunk="))
    index = load_chunk_index(log_path, spark=spark)
    results: list[dict] = []
    for chunk in chunks[start_chunk:end_chunk]:
        # explicit schema: chunk files carry exactly EVENT_SCHEMA, and
        # skipping footer inference saves one driver job per micro-batch.
        df = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(log_path, chunk))
        results.extend(engine.apply_batch(df, hints=index.get(chunk)))
        m = engine.maybe_maintain()
        if m is not None:
            results.append(m)
    return results
