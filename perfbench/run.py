#!/usr/bin/env python3
"""Closed-loop benchmark of the bifrost_spark CDC apply path.

Run from the repository root:

    python3 perfbench/run.py --workload steady --seed 1 --seconds 10 --trace 0

One driver process, one closed-loop client on ``local[<nproc>]``: the next
micro-batch (or read) is issued only after the previous one returns.  The
path measured is

    generator -> ReplayEngine.apply_batch -> operators.lww
              -> TargetTable (merge) -> metafs,

with reads through ``TargetTable.read`` and ``operators.changes.table_changes``.

Workloads (see perfbench/README.md for why each exists):

- ``backfill``: catch-up replay of a backlog in large indexed chunks against
  a table of comparable size, with one mid-stream ADD COLUMN (fused path).
- ``steady``: many small indexed batches into a table >=50x the batch;
  every batch touches every bucket (broadcast path, whole-table rewrite).
- ``serve``: tiny hint-less batches (the streaming ``foreachBatch`` path:
  persist + stats pre-scan + apply) into a table with many more buckets than
  keys per batch, each followed by one scan, three primary-key lookups and
  one changelog read.

The amount of timed work is a fixed function of ``--seconds`` (never of the
clock), so two commits run the same batches; at ``--seconds 15`` the timed
region takes about 15 s on a 4-core host.  Set-up (JVM start, log
generation, bootstrap, a fixed number of warm-up batches) is timed as
``setup_s``.  Every run ends with a correctness gate against the sequential
oracle, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the run
with every layer wrapped from the outside (perfbench/spans.py) and the
Spark event log on, and prints the per-layer metrics instead.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Full records (samples, provenance, per-batch rows, span
self-times) go to ``.perfbench_out/`` and spans to a ``.spans.jsonl`` file
beside them.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import socket
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, replace

from layers import METAFS_METHODS, median, per_layer_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Figures are comparable only at this core count: the host the benchmark
# was calibrated on.  BENCH_r01-r05 (32 cores) are not comparable.
REFERENCE_CORES = 4
# per read set: one key the batch just wrote, the rest cold keys of the
# bootstrapped table (a different pair for every read set)
LOOKUPS_PER_READ_SET = 3
MIN_TIMED_BATCHES = 2


@dataclass(frozen=True)
class Workload:
    n_keys: int                 # generator key space (the hot working set)
    snapshot_keys: int          # rows bootstrapped into the table
    n_buckets: int
    batch_events: int           # data events per micro-batch (one log chunk, one file)
    hints: bool                 # pass the chunk index to apply_batch
    ddl: bool                   # one mid-stream ADD COLUMN
    warmup_batches: int         # untimed, part of setup_s
    batches_per_second: float   # timed batches = seconds * this (fixed work)
    round_batches: int = 0      # >0: replay the same backlog onto a fresh table copy per round
    reads_each_batch: bool = False
    warmup_reads: int = 0       # untimed read sets after the last few warm-up batches
    post_read_sets: int = 0     # read sets after the timed loop (workloads without per-batch reads)

    def timed_batches(self, seconds: float) -> int:
        n = max(MIN_TIMED_BATCHES, round(seconds * self.batches_per_second))
        if self.round_batches:
            n = self.round_batches * math.ceil(n / self.round_batches)
        return n


WORKLOADS = {
    "backfill": Workload(n_keys=8_000, snapshot_keys=4_000, n_buckets=32, batch_events=4_000,
                         hints=True, ddl=True, warmup_batches=4, batches_per_second=0.2,
                         round_batches=4, warmup_reads=1, post_read_sets=4),
    "steady": Workload(n_keys=4_000, snapshot_keys=20_000, n_buckets=32, batch_events=400,
                       hints=True, ddl=False, warmup_batches=6, batches_per_second=0.6,
                       post_read_sets=2),
    # live snapshots (and with them scan cost) grow while rewritten buckets
    # spread over snapshots and level off after about ten batches; timed
    # batches 6-9 are close to that, a longer warm-up does not fit the budget
    "serve": Workload(n_keys=400, snapshot_keys=10_000, n_buckets=32, batch_events=16,
                      hints=False, ddl=False, warmup_batches=5, batches_per_second=0.25,
                      reads_each_batch=True, warmup_reads=1),
}


def tiny(w: Workload) -> Workload:
    """The smoke-test size: same code paths, a few seconds of work."""
    return replace(w, n_keys=max(200, w.n_keys // 20), snapshot_keys=max(400, w.snapshot_keys // 20),
                   batch_events=max(10, w.batch_events // 20), warmup_batches=min(w.warmup_batches, 2),
                   warmup_reads=min(w.warmup_reads, 1), round_batches=min(w.round_batches, 2),
                   post_read_sets=min(w.post_read_sets, 1))


END_TO_END = {  # name -> unit
    "setup_s": "s", "events_per_s": "events/s", "batch_p50_ms": "ms", "batch_tail_ms": "ms",
    "scan_p50_ms": "ms", "lookup_p50_ms": "ms", "changes_p50_ms": "ms",
    "write_bytes_per_event": "B/event", "stored_bytes_per_row": "B/row", "peak_rss_mb": "MB",
}


# --------------------------------------------------------------- helpers
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; the 50th is the median."""
    if q == 50 or not values:
        return median(values)
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def tail_percentile(n: int) -> int:
    """The highest percentile with at least ten samples beyond it at n
    samples, never below the median."""
    return max(50, math.floor(100 * (1 - 10 / n))) if n else 50


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


def bucket_of(repo: str, path: str, n_buckets: int) -> int:
    """Python twin of ``merge.bucket_expr``: pmod(xxhash64(repo, path), n)."""
    from bifrost_spark.xxh64 import xxh64_str

    return xxh64_str(path, seed=xxh64_str(repo)) % n_buckets


def sha(content) -> str:
    return hashlib.sha256((content or "").encode()).hexdigest()


def touched_keys(events: list[dict]) -> dict[tuple[str, str], int]:
    """(repo, path) -> id of the last data event that wrote the key: the
    keys a changelog of this batch must return.  A delete, and an update
    that moves the primary key, leave a tombstone under the before-key."""
    last: dict[tuple[str, str], int] = {}
    for ev in events:
        et, before, after = ev["event_type"], ev["before"], ev["after"]
        if et == "delete" or (et == "update" and before is not None
                              and (before["repo"], before["path"]) != (after["repo"], after["path"])):
            last[(before["repo"], before["path"])] = int(ev["event_id"])
        if et in ("insert", "update"):
            last[(after["repo"], after["path"])] = int(ev["event_id"])
    return last


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def provenance(seed: int, spark, steal: float) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "bifrost_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    nproc = len(os.sched_getaffinity(0))
    return {
        "seed": seed, "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "host": socket.gethostname(), "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit, "source_sha256": digest.hexdigest(),
        # share of the host's CPU time stolen by other guests during the run
        "cpu_steal_share": steal,
        "comparable": nproc == REFERENCE_CORES,
        "comparable_note": f"figures compare only with runs at {REFERENCE_CORES} cores on the same host",
    }


# --------------------------------------------------------------- the run
class Bench:
    def __init__(self, name: str, w: Workload, seed: int, seconds: float, trace: bool, work: str):
        self.name, self.w, self.seed, self.seconds, self.trace = name, w, seed, seconds, trace
        self.work = work
        self.setup: dict[str, float] = {}
        self.batches: list[dict] = []   # timed batch records
        self.reads: list[dict] = []     # timed read records
        self.failed = 0
        self.n_cold = 0                 # cold keys looked up so far
        self.tracer = None
        self.spark = None

    # -- set-up --------------------------------------------------------
    def start_spark(self):
        from bifrost_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        conf = {"spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: no heap resizing between runs
                "spark.driver.extraJavaOptions": "-Xms2g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.dir": os.path.join(self.work, "eventlog")})
        spark = get_spark(f"perfbench-{self.name}", master=f"local[{nproc}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def run(self) -> dict:
        from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
        from bifrost_spark.metafs import load_chunk_index
        from bifrost_spark.operators.merge import TargetTable
        from bifrost_spark.pipelines.replay import ReplayEngine

        w = self.w
        ticks0 = cpu_ticks()
        n_timed = w.timed_batches(self.seconds)
        n_chunks = w.round_batches or (w.warmup_batches + n_timed)
        n_events = n_chunks * w.batch_events
        cfg = GeneratorConfig(
            n_events=n_events, n_keys=w.n_keys, n_repos=max(50, w.n_keys // 200), seed=self.seed,
            snapshot_keys=w.snapshot_keys,
            ddl=[(n_events // 2 + w.batch_events // 4, "ALTER TABLE code.repos ADD COLUMN stars INT")]
            if w.ddl else [],
        )
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer()
            install_wrappers(self.tracer)
        with self.phase("spark"):
            spark = self.spark = self.start_spark()

        log = os.path.join(self.work, "log")
        with self.phase("generate"):
            write_event_log(generate_events(spark, cfg), log, n_chunks=n_chunks, files_per_chunk=1)

        base = os.path.join(self.work, "table")
        with self.phase("bootstrap"):
            TargetTable.create(spark, base, n_buckets=w.n_buckets).bootstrap(generate_snapshot(spark, cfg))

        index = load_chunk_index(log)
        chunks = sorted(d for d in os.listdir(log) if d.startswith("chunk="))
        # what the loop needs of each chunk: its data-event count and the
        # keys it wrote; the oracle's full inputs are loaded after the loop
        self.touched, self.n_data = {}, {}
        for c in chunks:
            evs = read_chunk_events(os.path.join(log, c))
            self.touched[c] = touched_keys(evs)
            self.n_data[c] = sum(1 for e in evs if e["event_type"] in ("insert", "update", "delete"))
        self.cold_keys = [(r["repo"], r["path"]) for r in
                          generate_snapshot(spark, cfg).select("repo", "path").collect()]

        # (table copy, chunk, timed).  Backfill replays the whole backlog once
        # per round onto a fresh copy of the bootstrapped table; the warm-up
        # batches run on copies of their own, and each timed round starts on
        # a fresh copy.
        if w.round_batches:
            r = w.round_batches
            first = math.ceil(w.warmup_batches / r)
            sched = [(i // r, chunks[i % r], False) for i in range(w.warmup_batches)] + [
                (first + k, c, True) for k in range(n_timed // r) for c in chunks]
        else:
            sched = [(0, c, i >= w.warmup_batches) for i, c in enumerate(chunks)]

        tables: dict[int, tuple] = {}
        t_warm = time.perf_counter()
        for i, (copy_id, chunk, timed) in enumerate(sched):
            if timed and "warmup_s" not in self.setup:
                self.setup["warmup_s"] = time.perf_counter() - t_warm
            if copy_id not in tables:
                path = base
                if w.round_batches:
                    path = os.path.join(self.work, f"round{copy_id}")
                    shutil.copytree(base, path)
                tbl = TargetTable(spark, path)
                tables[copy_id] = (tbl, ReplayEngine(tbl), [])
            tbl, engine, snaps = tables[copy_id]
            prev = tbl.state["snapshot"]
            rec = self.apply(engine, tbl, log, chunk, index.get(chunk), timed)
            if (timed and w.reads_each_batch) or (not timed and i >= w.warmup_batches - w.warmup_reads):
                self.read_set(tbl, chunk, prev, None, len(snaps), timed, copy_id)
            snaps.append((chunk, prev, tbl.state["snapshot"]))
            if timed:
                self.batches.append(rec)

        final_id = max(tables)
        tbl, _engine, snaps = tables[final_id]
        for k in range(w.post_read_sets):
            # the changelogs cycle through the final copy's last batches
            chunk, prev, cur = snaps[-1 - k % len(snaps)]
            self.read_set(tbl, chunk, prev, cur, len(snaps) - 1, True, final_id)

        # peak RSS of the program's work, before the gate loads the oracle
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)
        self.timed_copies = sorted({copy_id for copy_id, _c, timed in sched if timed})
        self.stored_bytes = tree_bytes(tbl.path)
        events = {c: read_chunk_events(os.path.join(log, c)) for c in chunks}
        self.gate(tables, chunks, events, generate_snapshot(spark, cfg).toPandas())
        ticks1 = cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        self.provenance = provenance(self.seed, spark, steal)
        self.close()
        return self.results(n_timed)

    def close(self) -> None:
        """Restore the wrapped functions, stop the session and wait for its
        JVM to exit (the JVM leaves when its stdin closes)."""
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase into ``setup[<name>_s]``; a traced run also
        records it as a root span."""
        with self.root(f"setup.{name}"):
            t0 = time.perf_counter()
            yield
            self.setup[f"{name}_s"] = time.perf_counter() - t0

    # -- timed operations ------------------------------------------------
    @contextlib.contextmanager
    def root(self, kind: str, **attrs):
        """Root span + Spark job group for one operation (traced runs only)."""
        if self.tracer is None:
            yield None
            return
        spark = self.spark
        with self.tracer.root(kind, **attrs) as span:
            if spark is None:
                yield span
                return
            spark.sparkContext.setJobGroup(f"perfbench-{span['id']}", kind)
            try:
                yield span
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def apply(self, engine, tbl, log: str, chunk: str, hints, timed: bool) -> dict:
        from bifrost_spark.schemas import EVENT_SCHEMA

        df = self.spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(log, chunk))
        data_dir = os.path.join(tbl.path, "data")
        before = set(os.listdir(data_dir))
        n = self.n_data[chunk]
        rec = {"chunk": chunk, "events": n, "ok": True}
        with self.root("batch", chunk=chunk, timed=timed, events=n) as span:
            t0 = time.perf_counter()
            try:
                res = engine.apply_batch(df, hints=hints if self.w.hints else None)
                engine.maybe_maintain()
            except Exception:  # noqa: BLE001 — a failed batch is counted, the loop goes on
                traceback.print_exc()
                res, rec["ok"] = [], False
                self.failed += timed
            rec["ms"] = (time.perf_counter() - t0) * 1000
        rec["span"] = span["id"] if span else None
        rec["paths"] = [("fused" if r.get("fused") else r.get("merge_path")) for r in res
                        if not r.get("skipped") and ("fused" in r or "merge_path" in r)]
        rec["buckets_rewritten"] = sum(r.get("buckets_rewritten", 0) for r in res)
        new = set(os.listdir(data_dir)) - before
        rec["bytes_written"] = sum(tree_bytes(os.path.join(data_dir, d), ".parquet") for d in new)
        rec["live_snapshots"] = len(set(tbl.state["buckets"].values()))
        return rec

    def timed_read(self, kind: str, fn, timed: bool, **attrs) -> None:
        rec = {"kind": kind, "ok": True, **attrs}
        with self.root(kind) as span:
            t0 = time.perf_counter()
            try:
                rec["result"] = fn()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                rec["ok"] = False
                self.failed += timed
            rec["ms"] = (time.perf_counter() - t0) * 1000
        rec["span"] = span["id"] if span else None
        if timed:
            self.reads.append(rec)

    def read_set(self, tbl, chunk: str, prev: str, cur: str | None, pos: int, timed: bool, copy_id: int):
        """One scan, LOOKUPS_PER_READ_SET primary-key lookups and one changelog
        read of the batch that produced snapshot ``cur`` (default CURRENT);
        ``pos`` is the index of the last batch applied to the table read."""
        from pyspark.sql import functions as F

        from bifrost_spark.operators import changes

        def scan():
            df = tbl.read()
            r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]
            return r["n"]

        def lookup(repo, path):
            df = tbl.read(buckets=[bucket_of(repo, path, tbl.n_buckets)])
            rows = (df.filter((F.col("repo") == repo) & (F.col("path") == path))
                    .select("repo", "path", "last_event_id",
                            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("sha")).collect())
            return [(r["repo"], r["path"], r["last_event_id"], r["sha"]) for r in rows]

        def changelog():
            df = changes.table_changes(self.spark, tbl.path, prev, to_snapshot=cur)
            r = df.agg(F.count(F.lit(1)).alias("n"),
                       F.count(F.when(F.col("change_type") == "delete", 1)).alias("deletes"),
                       F.sum("last_event_id").alias("ids"),
                       F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]
            return [r["n"], r["deletes"], r["ids"] or 0]

        at = {"copy": copy_id, "pos": pos, "chunk": chunk}
        self.timed_read("scan", scan, timed, **at)
        keys = list(self.touched[chunk])[-1:]
        while len(keys) < LOOKUPS_PER_READ_SET:
            keys.append(self.cold_keys[(self.seed * 7919 + self.n_cold * 104729) % len(self.cold_keys)])
            self.n_cold += 1
        for repo, path in keys:
            self.timed_read("lookup", lambda r=repo, p=path: lookup(r, p), timed, key=[repo, path], **at)
        self.timed_read("changes", changelog, timed, **at)

    # -- correctness gate ------------------------------------------------
    def gate(self, tables: dict, chunks: list[str], events: dict, snapshot_pdf) -> None:
        """Final table of every timed table copy == oracle.sequential_apply,
        per row on (repo, path, sha256(content), last_event_id).  Every scan
        counts the oracle's live rows at its position, every lookup returns
        the oracle's row, and every changelog returns one row per key its
        batch wrote: the live ones as upserts, the rest as deletes."""
        import pandas as pd
        from pyspark.sql import functions as F

        from bifrost_spark.oracle import sequential_apply

        t0 = time.perf_counter()

        def state_after(pos: int) -> dict:
            evs = [e for c in chunks[:pos + 1] for e in events[c]]
            exp = sequential_apply(pd.DataFrame(evs), snapshot_pdf)
            return {(r.repo, r.path): (int(r.last_event_id), sha(r.content)) for r in exp.itertuples(index=False)}

        states = {len(chunks) - 1: state_after(len(chunks) - 1)}
        bad_reads = 0
        for r in self.reads:
            if not r["ok"]:
                continue
            # a changelog is checked against the state its batch left
            pos = chunks.index(r["chunk"]) if r["kind"] == "changes" else r["pos"]
            if pos not in states:
                states[pos] = state_after(pos)
            state = states[pos]
            if r["kind"] == "scan":
                ok = r["result"] == len(state)
            elif r["kind"] == "lookup":
                key = tuple(r["key"])
                ok = r["result"] == ([(*key, *state[key])] if key in state else [])
            else:
                touched = self.touched[r["chunk"]]
                ok = r["result"] == [len(touched), sum(1 for k in touched if k not in state),
                                     sum(touched.values())]
            if not ok:
                bad_reads += 1
                r["ok"] = False
                print(f"perfbench: gate: {r['kind']} after {r['chunk']} disagrees with the oracle", file=sys.stderr)
        final = states[len(chunks) - 1]
        want = {(*k, v[1], v[0]) for k, v in final.items()}
        self.gate_info = {"oracle_rows": len(want), "oracle_positions": len(states),
                          "reads_checked": len(self.reads), "bad_reads": bad_reads, "tables": {}}
        self.failed += bad_reads
        for cid in self.timed_copies:
            tbl = tables[cid][0]
            got = {(r["repo"], r["path"], r["sha"], r["last_event_id"]) for r in tbl.read().select(
                "repo", "path", "last_event_id",
                F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("sha")).collect()}
            self.gate_info["tables"][str(cid)] = got == want
        self.live_rows = len(want)
        # a wrong final table fails every operation of the run
        self.final_ok = all(self.gate_info["tables"].values())
        self.gate_info["seconds"] = time.perf_counter() - t0

    # -- metrics ---------------------------------------------------------
    def results(self, n_timed: int) -> dict:
        ok_batches = [b for b in self.batches if b["ok"]]
        walls = [b["ms"] for b in ok_batches]
        events = sum(b["events"] for b in ok_batches)
        q = tail_percentile(len(walls))

        def reads(kind):
            return [r["ms"] for r in self.reads if r["kind"] == kind and r["ok"]]

        e2e = {  # name -> (value, samples)
            "setup_s": (sum(self.setup.values()), 1),
            "events_per_s": (events / (sum(walls) / 1000) if walls else 0.0, len(walls)),
            "batch_p50_ms": (median(walls), len(walls)),
            "batch_tail_ms": (percentile(walls, q), len(walls)),
            "scan_p50_ms": (median(reads("scan")), len(reads("scan"))),
            "lookup_p50_ms": (median(reads("lookup")), len(reads("lookup"))),
            "changes_p50_ms": (median(reads("changes")), len(reads("changes"))),
            "write_bytes_per_event": (sum(b["bytes_written"] for b in ok_batches) / max(events, 1), len(walls)),
            "stored_bytes_per_row": (self.stored_bytes / max(self.live_rows, 1), 1),
            "peak_rss_mb": (self.peak_rss_mb, 1),
        }
        attempted = len(self.batches) + len(self.reads)
        failed = self.failed if self.final_ok else attempted
        out = {
            "workload": self.name, "trace": bool(self.tracer), "timed_batches": n_timed,
            "batch_tail_percentile": q, "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted if attempted else 1.0,
            "correct": self.final_ok and failed == 0, "gate": self.gate_info,
            "setup": self.setup, "provenance": self.provenance,
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "samples": n} for k, (v, n) in e2e.items()},
            "batches": self.batches,
            "reads": [{k: v for k, v in r.items() if k != "result"} for r in self.reads],
        }
        if self.tracer is not None:
            out["per_layer"] = per_layer_metrics(self, os.path.join(self.work, "eventlog"))
            # traced minus untraced end-to-end values is the tracing overhead
            out["per_layer"].update({f"traced.{k}": m for k, m in out["end_to_end"].items()})
            out["self_times"] = self.tracer.self_times()
        return out


def read_chunk_events(path: str) -> list[dict]:
    """A chunk's events as dicts, straight from its parquet files (pyarrow,
    no Spark): the benchmark's own copy of the input, for the oracle."""
    import pyarrow.parquet as pq

    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    return sorted(rows, key=lambda r: r["event_id"])


def install_wrappers(tracer) -> None:
    """Wrap the public entry points of every measured layer."""
    import py4j.clientserver

    import bifrost_spark.operators.changes as changes
    import bifrost_spark.operators.lww as lww
    import bifrost_spark.pipelines.replay as replay
    from bifrost_spark.metafs import LocalMetaFS
    from bifrost_spark.operators.merge import TargetTable
    from bifrost_spark.registry import SchemaRegistry

    for owner, attr, name in [
        (replay.ReplayEngine, "apply_batch", "replay.apply_batch"),
        (replay.ReplayEngine, "maybe_maintain", "merge.maybe_maintain"),
        # imported by name into replay, so wrapped there
        (replay, "events_to_ops", "lww.events_to_ops"),
        # imported at call time inside TargetTable, so wrapped on its module
        (lww, "resolve_lww", "lww.resolve_lww"),
        (TargetTable, "apply_ops", "merge.apply_ops"),
        (TargetTable, "read", "merge.read"),
        (TargetTable, "apply_ddl", "merge.apply_ddl"),
        (TargetTable, "compact", "merge.compact"),
        (TargetTable, "vacuum", "merge.vacuum"),
        (SchemaRegistry, "align", "registry.align"),
        (changes, "table_changes", "changes.table_changes"),
        *[(LocalMetaFS, m, f"metafs.{m}") for m in METAFS_METHODS],
    ]:
        tracer.wrap(owner, attr, name)
    tracer.count(py4j.clientserver.ClientServerConnection, "send_command", "py4j")


# ------------------------------------------------------------------ main
def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # one small driver JVM: the machine's memory is shared
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bifrost_spark", "__init__.py")):
        print(f"perfbench: no bifrost_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    w = WORKLOADS[args.workload]
    if args.tiny:
        w = tiny(w)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    bench = Bench(args.workload, w, args.seed, args.seconds, bool(args.trace), work)
    try:
        res = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    if bench.tracer is not None:
        bench.tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))

    print("perfbench provenance: " + json.dumps(res["provenance"]))
    print(f"perfbench {tag}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
          f"error_rate={res['error_rate']} ratio (n={res['attempted']}) "
          f"batch_tail=p{res['batch_tail_percentile']}")
    table = res["per_layer"] if args.trace else res["end_to_end"]
    for name, m in table.items():
        print(f"metric {name} = {m['value']} {m['unit']} (n={m['samples']})")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in table.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
