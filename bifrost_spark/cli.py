"""CLI / spark-submit entrypoint for the CDC engine.

The reference is driven by an HTTP admin UI + ini config
(/root/reference/Bifrost.go, /root/reference/admin/); the Spark rebuild is a
batch/streaming job driven by arguments, per SURVEY.md §2.6 ("CLI /
spark-submit entrypoint + config file; no UI").

Local run:          python -m bifrost_spark replay --log L --table T
Cluster run:        spark-submit --py-files bifrost_spark.zip \
                        --conf spark.sql.shuffle.partitions=2048 \
                        tools/submit_entry.py replay --log /mnt/shared/log --table /mnt/shared/tbl
(`tools/make_pyfiles.sh` builds the zip; submit_entry.py just calls main()).

Table/log roots may be plain paths (POSIX metadata I/O, atomic os.replace)
or ``scheme://`` URIs — hdfs:// s3a:// gs:// file:// — in which case
TargetTable routes its commit/state/lineage metadata through the Hadoop
FileSystem API (bifrost_spark/metafs.py; needs the scheme's connector jar
on the cluster, e.g. hadoop-aws for s3a).  Pointer swings are atomic on
POSIX/HDFS and single-writer-safe on object stores (see metafs.py).

Subcommands:
  generate   write a deterministic synthetic event log (+ optional snapshot)
  bootstrap  create the target table and load the initial snapshot
  replay     chunked batch replay of an event log (resumable)
  stream     Structured Streaming replay (checkpointed, availableNow or live)
  compact    rewrite live buckets, GC tombstones below a low-water mark
  vacuum     drop orphan snapshot dirs + superseded state files
  status     print table state (snapshot, buckets, commit count, schema version)
             and the last STATUS_RECORDS per-batch records with their events/s
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from bifrost_spark.session import get_spark

# Per-batch records (``TargetTable.lineage``) that ``status`` prints.
STATUS_RECORDS = 5


def _add_gen(p: argparse.ArgumentParser) -> None:
    p.add_argument("--n-events", type=int, default=100_000)
    p.add_argument("--n-keys", type=int, default=10_000)
    p.add_argument("--n-repos", type=int, default=200)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--snapshot-keys", type=int, default=0)
    p.add_argument("--ddl", action="append", default=[],
                   help="DATA_EVENT_INDEX:SQL (repeatable)")


def _cfg(args):
    from bifrost_spark.generator import GeneratorConfig

    ddl = []
    for spec in args.ddl:
        idx, sql = spec.split(":", 1)
        ddl.append((int(idx), sql))
    return GeneratorConfig(
        n_events=args.n_events, n_keys=args.n_keys, n_repos=args.n_repos,
        seed=args.seed, snapshot_keys=args.snapshot_keys, ddl=ddl,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bifrost_spark")
    ap.add_argument("--master", default=None, help="overrides local[$SPARK_GRAFT_CPUS]")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--chunks", type=int, default=16)
    g.add_argument("--files-per-chunk", type=int, default=8)
    _add_gen(g)

    b = sub.add_parser("bootstrap")
    b.add_argument("--table", required=True)
    b.add_argument("--n-buckets", type=int, default=32)
    _add_gen(b)

    r = sub.add_parser("replay")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--start-chunk", type=int, default=0)
    r.add_argument("--end-chunk", type=int, default=None)
    r.add_argument("--unordered", action="store_true",
                   help="disable the high-water-mark stale skip (chunks may arrive out of order)")
    r.add_argument("--auto-compact", type=int, default=None, metavar="N",
                   help="compact+vacuum when live buckets span more than N snapshots")

    s = sub.add_parser("stream")
    s.add_argument("--log", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--max-files-per-trigger", type=int, default=1)
    s.add_argument("--continuous", action="store_true",
                   help="keep tailing the log instead of draining availableNow")

    fc = sub.add_parser("counters")
    fc.add_argument("--log", required=True)
    fc.add_argument("--out", required=True)
    fc.add_argument("--checkpoint", required=True)
    fc.add_argument("--windowed", action="store_true",
                    help="event-time windowed counts (watermarked) instead of running totals")
    fc.add_argument("--max-files-per-trigger", type=int, default=4)

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--tombstone-lwm", type=int, default=None)

    v = sub.add_parser("vacuum")
    v.add_argument("--table", required=True)

    st = sub.add_parser("status")
    st.add_argument("--table", required=True)
    st.add_argument("--at-snapshot", default=None,
                    help="time travel: inspect a retained snapshot (read-only)")

    sn = sub.add_parser("snapshots")
    sn.add_argument("--table", required=True)

    ch = sub.add_parser("changes",
                        help="incremental changelog between two snapshots")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-snapshot", required=True, dest="from_snapshot")
    ch.add_argument("--to-snapshot", default=None, dest="to_snapshot",
                    help="default: CURRENT")
    ch.add_argument("--out", default=None,
                    help="write the changelog as parquet instead of counting")
    ch.add_argument("--pre-images", action="store_true",
                    help="classify insert/update/delete and attach before images")

    args = ap.parse_args(argv)
    spark = get_spark(f"bifrost-{args.cmd}", master=args.master)
    from bifrost_spark.operators.merge import TargetTable

    t0 = time.time()
    if args.cmd == "generate":
        from bifrost_spark.generator import generate_events, write_event_log

        write_event_log(generate_events(spark, _cfg(args)), args.out,
                        n_chunks=args.chunks, files_per_chunk=args.files_per_chunk)
        out = {"out": args.out, "n_events": args.n_events}
    elif args.cmd == "bootstrap":
        from bifrost_spark.generator import generate_snapshot, registry_for

        table = TargetTable.create(spark, args.table, n_buckets=args.n_buckets,
                                   registry=registry_for(_cfg(args)))
        out = table.bootstrap(generate_snapshot(spark, _cfg(args)))
    elif args.cmd == "replay":
        from bifrost_spark.pipelines.replay import replay_event_log

        table = TargetTable(spark, args.table)
        results = replay_event_log(spark, args.log, table,
                                   start_chunk=args.start_chunk, end_chunk=args.end_chunk,
                                   ordered=not args.unordered,
                                   auto_compact_snapshots=args.auto_compact)
        out = {"batches": len(results),
               "applied": sum(1 for r in results if not r.get("skipped"))}
    elif args.cmd == "stream":
        from bifrost_spark.streaming.job import start_cdc_stream

        table = TargetTable(spark, args.table)
        q = start_cdc_stream(spark, args.log, table, checkpoint_dir=args.checkpoint,
                             max_files_per_trigger=args.max_files_per_trigger,
                             available_now=not args.continuous)
        if args.continuous:
            q.awaitTermination()
        else:
            q.processAllAvailable()
            q.stop()
        out = {"stream": "drained" if not args.continuous else "terminated"}
    elif args.cmd == "counters":
        if args.windowed:
            from bifrost_spark.streaming.windows import start_windowed_flow_stream as _start
        else:
            from bifrost_spark.streaming.flow_state import start_flow_counter_stream as _start
        q = _start(spark, args.log, args.out, args.checkpoint,
                   max_files_per_trigger=args.max_files_per_trigger)
        q.processAllAvailable()
        q.stop()
        out = {"counters": args.out, "windowed": args.windowed}
    elif args.cmd == "compact":
        out = TargetTable(spark, args.table).compact(args.tombstone_lwm)
    elif args.cmd == "vacuum":
        out = TargetTable(spark, args.table).vacuum()
    elif args.cmd == "snapshots":
        out = {"snapshots": TargetTable(spark, args.table).snapshots()}
    elif args.cmd == "changes":
        from bifrost_spark.operators.changes import table_changes

        df = table_changes(spark, args.table, from_snapshot=args.from_snapshot,
                           to_snapshot=args.to_snapshot,
                           with_pre_images=args.pre_images)
        out = {"from": args.from_snapshot, "to": args.to_snapshot or "CURRENT"}
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            out["out"] = args.out
        from pyspark.sql import functions as F

        by_type = {r["change_type"]: r["n"] for r in
                   df.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
        out["changes"] = by_type
    else:  # status
        table = TargetTable(spark, args.table, at_snapshot=args.at_snapshot)
        recent = table.lineage()[-STATUS_RECORDS:]
        timed = [r for r in recent if r.get("n_ops") and r.get("wall_ms")]
        out = {
            "snapshot": table.state["snapshot"],
            "n_buckets": table.n_buckets,
            "live_buckets": len(table.state["buckets"]),
            "applied_batches": int(table.state["snapshot"][1:]),  # one per commit
            "last_event_id": table.last_event_id,
            "schema_version": table.registry.current_version,
            "rows": table.read().count(),
            "recent": [{"kind": r.get("kind"), "batch_id": r.get("batch_id"),
                        "event_range": [r.get("min_event_id"), r.get("max_event_id")],
                        "n_ops": r.get("n_ops"), "wall_ms": r.get("wall_ms")} for r in recent],
            # apply throughput of the records that carry both numbers
            "events_per_s": round(1000 * sum(r["n_ops"] for r in timed)
                                  / sum(r["wall_ms"] for r in timed), 1) if timed else None,
        }
    out["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
