"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Each metric names the layer (this repository's module) it measures.  The
comment on each group says which end-to-end metric it should move, on which
workload; perfbench/README.md has the same map as a table.

Per-batch metrics are medians over the timed batches.  ``merge.path.*``,
``merge.ddl_ms`` and ``merge.maint_*`` are totals over the timed batches
(DDL and maintenance happen in few batches, so their median is 0).  Read metrics are
medians over the timed reads of their kind.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import parse_event_log, union_length

METAFS_METHODS = ("read_text", "write_text_atomic", "append_line", "listdir", "dir_size", "exists")
SPARK_SUMS = ("tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "input_bytes", "output_bytes", "spill_bytes")

PER_LAYER = {  # name -> unit
    # session / generator -> setup_s, all workloads
    "setup.spark_s": "s", "setup.generate_s": "s", "setup.bootstrap_s": "s", "setup.warmup_s": "s",
    # pipelines.replay -> batch_p50_ms / events_per_s
    "replay.apply_ms": "ms", "replay.prescan_ms": "ms", "replay.driver_ms": "ms",
    "replay.spark_jobs": "count", "replay.py4j_calls": "count",
    # operators.lww -> batch_p50_ms on steady and serve
    "lww.plan_ms": "ms",
    # operators.merge -> batch_p50_ms, write_bytes_per_event, scan_p50_ms
    "merge.apply_ms": "ms", "merge.path.fused": "count", "merge.path.broadcast": "count",
    "merge.path.shuffle": "count", "merge.buckets_rewritten": "count", "merge.bytes_written": "B",
    "merge.rows_written_per_event": "ratio", "merge.read_plan_ms": "ms", "merge.live_snapshots": "count",
    "merge.ddl_ms": "ms", "merge.maint_count": "count", "merge.maint_ms": "ms",
    # registry -> scan_p50_ms on serve, events_per_s on backfill after the DDL
    "registry.align_ms": "ms",
    # operators.changes -> changes_p50_ms on serve
    "changes.plan_ms": "ms",
    # metafs -> batch_p50_ms on serve and steady
    **{f"metafs.calls.{m}": "count" for m in METAFS_METHODS},
    **{f"metafs.ms.{m}": "ms" for m in METAFS_METHODS},
    # Spark executor (event log) -> events_per_s on backfill, write_bytes_per_event on steady
    "spark.job_ms": "ms", "spark.tasks": "count", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.cpu_ratio": "ratio", "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "spark.output_bytes": "B", "spark.spill_bytes": "B",
}


def _ms(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) * 1000


def median(values: list[float]) -> float:
    """The median; 0 when a run produced no samples (a failed run)."""
    return statistics.median(values) if values else 0.0


def attach_jobs(tracer, jobs_by_group: dict[str, list[dict]]) -> dict[int, list[dict]]:
    """Add one span per Spark job under the deepest span of its root that
    was open when the job was submitted; return the jobs per root id."""
    depth = {}
    for s in tracer.spans:
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
    by_root: dict[int, list[dict]] = {}
    for s in [s for s in tracer.spans if s["parent"] is None]:
        jobs = jobs_by_group.get(f"perfbench-{s['id']}", [])
        by_root[s["id"]] = jobs
        inner = tracer.descendants(s)
        for job in jobs:
            holders = [d for d in inner if d["start"] <= job["start"] <= d["end"]]
            parent = max(holders, key=lambda d: depth[d["id"]]) if holders else s
            tracer.add_span(parent, "spark.job", job["start"], job["end"], job=job["job"],
                            tasks=job.get("tasks", 0))
    return by_root


def per_layer_metrics(bench, eventlog_dir: str) -> dict[str, dict]:
    tracer = bench.tracer
    jobs = attach_jobs(tracer, parse_event_log(eventlog_dir))
    spans = {s["id"]: s for s in tracer.spans}
    per_batch: dict[str, list[float]] = defaultdict(list)
    totals: dict[str, float] = defaultdict(float)

    for rec in bench.batches:
        root = spans[rec["span"]]
        desc = tracer.descendants(root)
        apply = next(s for s in desc if s["name"] == "replay.apply_batch")
        apply_ms = (apply["end"] - apply["start"]) * 1000
        first = min((s["start"] for s in desc if s["name"] in ("merge.apply_ops", "merge.apply_ddl")),
                    default=apply["end"])
        bjobs = jobs[root["id"]]
        in_apply = [(max(j["start"], apply["start"]), min(j["end"], apply["end"])) for j in bjobs]
        v = per_batch
        v["replay.apply_ms"].append(apply_ms)
        v["replay.prescan_ms"].append((first - apply["start"]) * 1000)
        v["replay.driver_ms"].append(apply_ms - union_length(in_apply) * 1000)
        v["replay.spark_jobs"].append(len(bjobs))
        v["replay.py4j_calls"].append(tracer.counts[root["id"]]["py4j"])
        v["lww.plan_ms"].append(_ms(desc, "lww.events_to_ops") + _ms(desc, "lww.resolve_lww"))
        v["merge.apply_ms"].append(_ms(desc, "merge.apply_ops"))
        v["merge.buckets_rewritten"].append(rec["buckets_rewritten"])
        v["merge.bytes_written"].append(rec["bytes_written"])
        v["merge.rows_written_per_event"].append(
            sum(j.get("output_records", 0) for j in bjobs) / max(rec["events"], 1))
        v["merge.live_snapshots"].append(rec["live_snapshots"])
        v["registry.align_ms"].append(_ms(desc, "registry.align"))
        for m in METAFS_METHODS:
            v[f"metafs.calls.{m}"].append(sum(1 for s in desc if s["name"] == f"metafs.{m}"))
            v[f"metafs.ms.{m}"].append(_ms(desc, f"metafs.{m}"))
        v["spark.job_ms"].append(union_length([(j["start"], j["end"]) for j in bjobs]) * 1000)
        for k in SPARK_SUMS:
            v[f"spark.{k}"].append(sum(j.get(k, 0.0) for j in bjobs))
        cpu_ms = sum(j.get("executor_cpu_ns", 0.0) for j in bjobs) / 1e6
        run_ms = sum(j.get("executor_run_ms", 0.0) for j in bjobs)
        v["spark.executor_cpu_ms"].append(cpu_ms)
        v["spark.cpu_ratio"].append(cpu_ms / run_ms if run_ms else 0.0)
        for p in rec["paths"]:
            totals[f"merge.path.{p}"] += 1
        totals["merge.maint_count"] += sum(1 for s in desc if s["name"] == "merge.compact")
        totals["merge.maint_ms"] += _ms(desc, "merge.maybe_maintain")
        totals["merge.ddl_ms"] += _ms(desc, "merge.apply_ddl")

    reads: dict[str, list[float]] = defaultdict(list)
    for rec in bench.reads:
        desc = tracer.descendants(spans[rec["span"]])
        if rec["kind"] == "scan":
            reads["merge.read_plan_ms"].append(_ms(desc, "merge.read"))
        elif rec["kind"] == "changes":
            reads["changes.plan_ms"].append(_ms(desc, "changes.table_changes"))

    n = len(bench.batches)
    out: dict[str, dict] = {}
    for name, unit in PER_LAYER.items():
        if name.startswith("setup."):
            value, samples = bench.setup[name[len("setup."):]], 1
        elif name in per_batch:
            value, samples = median(per_batch[name]), n
        elif name in reads:
            value, samples = median(reads[name]), len(reads[name])
        else:
            value, samples = totals.get(name, 0.0), n
        out[name] = {"value": value, "unit": unit, "samples": samples}
    return out
