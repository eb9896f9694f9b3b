"""TargetTable — MERGE INTO semantics on plain parquet, Iceberg-shaped.

No lake-format jars ship in this sandbox, so the Iceberg sink from
SURVEY.md §7 step 2 is implemented behind this interface: a
bucket-partitioned, snapshot-versioned, copy-on-write table whose commit
protocol gives the same guarantees a MERGE INTO an Iceberg table would:

- **Bucket partitioning** ``bucket = pmod(xxhash64(repo, path), n_buckets)``
  (Iceberg's ``bucket(N, ...)`` transform).  A merge reads and rewrites ONLY
  the buckets its batch touches — at 100 TB with n_buckets=16384 a typical
  micro-batch touches a bounded subset and the rewrite cost is proportional
  to touched data, not table size.
- **One apply path** (``apply_ops``; ``merge`` is a thin entry into it):
  MERGE *is* last-writer-wins.  The touched buckets' rows, as ops, are
  unioned with the batch's ops, one ``max_by(seq)`` per key picks each
  key's final row, and one exchange on ``bucket`` — one partition per
  touched bucket — feeds both that aggregate and the bucket-partitioned
  write.  Like Bifrost's one sink transaction per batch, a commit costs
  what the batch touches.
- **Snapshot versioning**: each commit writes new parquet under
  ``data/<snapshot>/bucket=NN/`` then atomically swings ``_state/CURRENT``
  (os.replace) to a JSON manifest mapping every bucket to the snapshot that
  last rewrote it.  Readers see the old state until the pointer moves;
  a crash mid-commit leaves only orphan files (GC-able), never a torn table.
- **Idempotent commit manifests** (exactly-once, SURVEY.md §4 custom-work 2):
  the manifest records applied batches as ``applied_ids``, a bounded tail
  of batch ids, and ``applied_ranges``, a MERGED interval set of committed
  event_id ranges, so the state JSON stays **O(1)** over a 10^6-batch
  stream (ordered delivery makes the ranges contiguous → one interval).
  Each commit's full entry lives only in ``_state/lineage.jsonl``, the
  table's one per-batch record (``lineage()``), unbounded because the
  append never rewrites the state.  Every apply first checks the applied
  set and no-ops on replay — the Spark
  rebuild of the reference's LastSuccessBinlog-only-on-commit discipline
  (/root/reference/server/to_server_consume.go:133-160,
  /root/reference/server/storage.go:52-128), strengthened from
  at-least-once+idempotent-sink to exactly-once.
- **MERGE guard + tombstones**: a source op only lands if ``src.event_id >
  tgt.last_event_id`` (safe under overlapping replays, SURVEY.md §7), and
  deletes are kept as TOMBSTONE rows (``is_deleted=true`` with the delete's
  event_id) rather than physically removed.  Together these make ``merge``
  COMMUTATIVE across disjoint batches: applying batch ranges in any order
  yields the same final state — required because a streaming file source
  does not guarantee chunk order, and it is what allows concurrent
  per-bucket appliers on a real cluster.  Without tombstones, a late
  lower-event_id upsert would resurrect a key whose higher-event_id delete
  had already been applied and physically dropped.  Tombstones are GC-able
  at compaction time once the source low-water mark passes their event_id
  (same discipline as Iceberg positional-delete compaction).  A TRUNCATE or
  DROP TABLE is the whole-table tombstone: it empties the bucket map and
  leaves a floor event_id (``cleared_at``) below which no op lands again.
- **One physical row layout**: every data file holds ``repo, path, commit,
  lang, content, last_event_id, is_deleted, extra`` (``bucket`` is its
  directory).  DDL-added columns live only in the ``extra`` map, as the raw
  strings their events carried — the reference's by-name row image
  (/root/reference/plugin/driver/driver.go:29-45).  Schema evolution is
  therefore metadata-only and the write path never sees a schema version:
  the registry rides in the manifest, the one holder of the current
  version, and ``read`` types the map's values at that version
  (``SchemaRegistry.align``), like Iceberg schema ids.

Reference semantics being reproduced: MySQL-sink REPLACE/ON-DUP-KEY/DELETE
batch apply (/root/reference/plugin/mysql/src/mysql_normal_sync.go:16-146)
and ClickHouse delete+insert apply
(/root/reference/plugin/clickhouse/src/normal_sync.go:18-203), with batch
commit alignment (/root/reference/plugin/mysql/src/mysql.go:482-668).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bifrost_spark.metafs import metafs_for
from bifrost_spark.registry import SchemaRegistry
from bifrost_spark.schemas import PK_COLUMNS, TARGET_BASE_FIELDS

BASE_COLS = [f.name for f in TARGET_BASE_FIELDS]  # repo path commit lang content last_event_id
EXTRA_TYPE = T.MapType(T.StringType(), T.StringType())
# The one physical layout of every data file (module docstring), in column
# order, every column nullable as the apply plan writes them; a written row
# adds ``bucket``, the partition directory.
FILE_SCHEMA = T.StructType([*[T.StructField(f.name, f.dataType) for f in TARGET_BASE_FIELDS],
                            T.StructField("is_deleted", T.BooleanType()),
                            T.StructField("extra", EXTRA_TYPE)])
ROW_COLS = [*FILE_SCHEMA.fieldNames(), "bucket"]

# Batch ids kept in the manifest's recent tail, and the cap on its
# merged event_id interval set (smallest-gap compaction past it).
APPLIED_TAIL = 256
APPLIED_INTERVALS = 64
# Keys every commit entry carries, whatever its kind (None where a kind has
# no value); kinds add their own keys after these.
RECORD_KEYS = ("batch_id", "kind", "min_event_id", "max_event_id", "n_ops", "wall_ms")
# A batch whose ops-per-distinct-key ratio reaches this arms the map-side
# pre-LWW combine (``apply_ops``).
PRELWW_RATIO = 8
# Parquet codec of table data writes: A/B'd on the bench replay shape at
# local[32] (4M events, 32 buckets) — lz4 16.1 s vs snappy 17.3 s vs zstd
# slowest, at equal file size to snappy — and lz4 keeps the fastest
# decompression for the read-heavy side.
WRITE_CODEC = "lz4"


def bucket_expr(n_buckets: int, struct: str | None = None):
    """The bucket of a row's PK; ``struct`` names a PK-carrying struct
    column instead (an event's ``before``/``after`` image)."""
    pre = f"{struct}." if struct else ""
    return F.pmod(F.xxhash64(*[F.col(pre + c) for c in PK_COLUMNS]), F.lit(n_buckets)).cast("int")


# Ordered replay commits contiguous event_id ranges, so the merged set
# collapses toward ~1 interval and the manifest stays O(1), not O(batches).
# Shared with the GTID sets (same algebra): bifrost_spark/intervals.py.
from bifrost_spark.intervals import merge_intervals as _merge_ranges  # noqa: E402


class TargetTable:
    """A single-writer, multi-reader upsert table (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str, at_snapshot: str | None = None):
        """Open the table at CURRENT, or — time travel — at any retained
        snapshot (``at_snapshot="v00000007"``): every commit leaves its full
        manifest under ``_state/<snap>.json`` and its data under
        ``data/<snap>/``, so an old state is just a different manifest to
        read through (the Iceberg snapshot-read model; ``vacuum()`` is what
        eventually retires old snapshots' data files).  A time-traveled
        handle is strictly READ-ONLY — any commit attempt raises rather
        than forking history."""
        self.spark = spark
        self.path = path
        # metadata I/O goes through a scheme-selected FS (metafs.py): POSIX
        # for plain paths, the Hadoop FileSystem API for hdfs://, s3a://,
        # file://, ... — the ADVICE round-1 object-store follow-up
        self._fs = metafs_for(spark, path)
        self._at_snapshot = at_snapshot
        self._load_state()

    def _assert_writable(self, op: str) -> None:
        """The one read-only guard of a time-traveled handle.  ``_commit``
        calls it as the backstop every commit passes; mutating entry points
        call it first, so a refused call runs no Spark job and leaves no
        orphan data/<snap> dir for a later vacuum to reclaim."""
        if self._at_snapshot is not None:
            raise RuntimeError(
                f"{op}: table opened read-only via time travel "
                f"(at_snapshot={self._at_snapshot!r}); open without "
                "at_snapshot to write"
            )

    def snapshots(self) -> list[dict]:
        """Commit history: one entry per retained snapshot manifest, oldest
        first — (snapshot, last_event_id, n_commits: the snapshot number,
        data_present).  Data presence goes false once ``vacuum()`` retires a
        snapshot's files; such snapshots are still listed but no longer
        time-travel-readable."""
        state_dir = os.path.join(self.path, "_state")
        out = []
        for name in sorted(self._fs.listdir(state_dir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            snap = name[:-5]
            st = json.loads(self._fs.read_text(os.path.join(state_dir, name)))
            data_dirs = {s for s in st.get("buckets", {}).values()}
            present = all(
                self._fs.exists(os.path.join(self.path, "data", s)) for s in data_dirs
            )
            out.append({"snapshot": snap, "last_event_id": st.get("last_event_id"),
                        "n_commits": int(snap[1:]), "data_present": present})
        return out

    # ------------------------------------------------------------------ state
    @classmethod
    def create(cls, spark: SparkSession, path: str, n_buckets: int = 32,
               registry: SchemaRegistry | None = None) -> "TargetTable":
        fs = metafs_for(spark, path)
        fs.makedirs(os.path.join(path, "_state"))
        fs.makedirs(os.path.join(path, "data"))
        state = {
            "snapshot": "v00000000",
            "n_buckets": n_buckets,
            "registry": (registry or SchemaRegistry()).to_dict(),
            "buckets": {},
            "applied_ids": [],      # bounded tail of recent batch ids
            "applied_ranges": [],   # merged [lo, hi] event_id intervals (O(1) steady-state)
            "last_event_id": -1,
        }
        cls._write_snapshot(fs, path, state)
        return cls(spark, path)

    @staticmethod
    def _write_snapshot(fs, path: str, state: dict) -> None:
        snap = state["snapshot"]
        fs.write_text_atomic(os.path.join(path, "_state", f"{snap}.json"), json.dumps(state))
        # the atomic CURRENT swing is the one-and-only commit point
        fs.write_text_atomic(os.path.join(path, "_state", "CURRENT"), snap)

    def _load_state(self) -> None:
        if getattr(self, "_at_snapshot", None) is not None:
            snap = self._at_snapshot
            if not self._fs.exists(os.path.join(self.path, "_state", f"{snap}.json")):
                have = [e["snapshot"] for e in self.snapshots()]
                raise FileNotFoundError(
                    f"no snapshot manifest {snap!r} under {self.path}; retained: {have}")
        else:
            snap = self._fs.read_text(os.path.join(self.path, "_state", "CURRENT")).strip()
        self._set_state(json.loads(
            self._fs.read_text(os.path.join(self.path, "_state", f"{snap}.json"))))

    def _set_state(self, state: dict) -> None:
        if "schemas" in state:
            # per-snapshot file schemas: the table stored DDL-added columns
            # as typed file columns, which the one-layout read would drop
            raise RuntimeError(
                f"{self.path}: snapshot {state['snapshot']} was written with typed "
                "DDL-added columns (its manifest carries a 'schemas' map); this "
                "version keeps them in the extra map only and cannot read that table")
        if "applied" in state:  # a manifest that kept full entries: keep the ids
            state["applied_ids"] = [a["batch_id"] for a in state.pop("applied")]
            state = {k: v for k, v in state.items() if k not in ("schema_version", "n_commits")}
        self.state = state
        self.registry = SchemaRegistry.from_dict(state["registry"])

    @property
    def n_buckets(self) -> int:
        return self.state["n_buckets"]

    @property
    def applied_batch_ids(self) -> set[str]:
        """Batch ids of the last ``APPLIED_TAIL`` commits (the durable
        replay check is ``is_applied`` range containment)."""
        return set(self.state["applied_ids"])

    def is_applied(self, batch_id: str, batch_range: tuple[int, int] | None = None,
                   range_exclusive: bool = False) -> bool:
        """Exactly-once replay check, O(log intervals): a batch is applied
        if its id is in the recent tail OR (``range_exclusive`` only) its
        event_id range is fully covered by the committed interval set.

        Range containment is the durable signal — the tail is bounded, so
        over a 10^6-batch stream old batch ids age out of it while their
        ranges stay merged forever — but it is only VALID when the caller
        delivers range-exclusive batches: every event_id inside a batch's
        [min, max] belongs to that batch (binlog position ranges, ordered
        chunk replay).  A streaming file source interleaves ids across
        files, so one file's [min, max] spans ids other files deliver —
        there the check falls back to the id tail, and redelivery beyond
        the tail is still safe (not skipped, but a no-op) via the
        commutative guard+tombstone merge."""
        if batch_id in self.applied_batch_ids:
            return True
        if not range_exclusive or batch_range is None or batch_range[0] is None:
            return False
        lo, hi = batch_range
        import bisect
        ranges = self.state["applied_ranges"]
        i = bisect.bisect_right([r[0] for r in ranges], lo) - 1
        return i >= 0 and ranges[i][1] >= hi

    def _commit(self, st: dict, entry: dict) -> None:
        """The one commit sequence.  ``st`` is the caller's edited copy of
        ``self.state`` and becomes the next snapshot: ``entry`` (completed
        to the ``RECORD_KEYS`` shape and stamped with ``snapshot`` and
        ``committed_at`` in place) joins the applied record by its batch id
        and range, a fresh ``_state/<snap>.json`` is written, the atomic
        CURRENT swing publishes it, this handle takes the manifest it wrote
        (JSON round trip, no re-read), and the entry is appended to its only
        copy, ``_state/lineage.jsonl``.  A manifest CURRENT has named is
        never rewritten.

        The append follows the swing, so every line names a committed
        snapshot and a failed commit leaves none; a crash between the two
        leaves that one commit without its line."""
        self._assert_writable("commit")
        for k in RECORD_KEYS:
            entry.setdefault(k, None)
        st["snapshot"] = entry["snapshot"] = self._next_snapshot()
        entry["committed_at"] = time.time()
        st["applied_ids"] = (st["applied_ids"] + [entry["batch_id"]])[-APPLIED_TAIL:]
        if entry["min_event_id"] is not None and entry["max_event_id"] is not None:
            st["applied_ranges"] = _merge_ranges(
                st.get("applied_ranges", []) + [[entry["min_event_id"], entry["max_event_id"]]],
                max_intervals=APPLIED_INTERVALS,
            )
        self._write_snapshot(self._fs, self.path, st)
        self._set_state(json.loads(json.dumps(st)))
        self._fs.append_line(self._lineage_path(), json.dumps(entry))

    def _lineage_path(self) -> str:
        return os.path.join(self.path, "_state", "lineage.jsonl")

    def lineage(self) -> list[dict]:
        """The per-batch record: one entry per commit up to this handle's
        snapshot, in commit order — the only copy of each commit's full
        entry (the manifest keeps just the recent batch ids)."""
        recs = [json.loads(line) for line in self._fs.read_lines(self._lineage_path())
                if line.strip()]
        # lines from tables written before commits appended their entries
        # carry another schema (no snapshot, kind, ...); they are kept as is
        return [r for r in recs if r.get("snapshot", "") <= self.state["snapshot"]]

    @property
    def last_event_id(self) -> int:
        return self.state["last_event_id"]

    @property
    def gtid_executed(self) -> str:
        """MySQL-interop view of the applied set (``gtid.GtidSet`` string);
        the event_id interval manifest stays the exactly-once authority."""
        return self.state.get("gtid_executed", "")

    @staticmethod
    def _union_gtid(st: dict, gtid_set: str | None) -> None:
        if gtid_set:
            from bifrost_spark.gtid import GtidSet

            st["gtid_executed"] = str(
                GtidSet.parse(st.get("gtid_executed")).union(gtid_set).compact()
            )

    def _next_snapshot(self) -> str:
        return f"v{int(self.state['snapshot'][1:]) + 1:08d}"

    # ------------------------------------------------------------------ read
    def _empty(self) -> DataFrame:
        # an empty range, not createDataFrame([]): that one is a Python RDD,
        # whose tasks start Python workers in every plan it joins
        return self.spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in FILE_SCHEMA],
            F.lit(0).alias("bucket"))

    def read(self, buckets: list[int] | None = None, include_deleted: bool = False) -> DataFrame:
        """Current table state (optionally pruned to a bucket subset).

        ONE scan with the one file schema over exactly the
        ``data/<snap>/bucket=NN`` directories the manifest names for the
        wanted buckets — the pruning is the path list, so the rest of the
        table is never listed.  Each leaf directory is its own root (Spark
        refuses one ``basePath`` over several snapshot roots), so ``bucket``
        is recomputed from the PK.  ``SchemaRegistry.align`` then types the
        DDL-added columns out of the ``extra`` map at the current schema
        version.  ``include_deleted=True`` is the internal rewrite surface
        (merge target reads, compaction, changelogs): tombstones stay and
        the raw map rides along.
        """
        bmap: dict[str, str] = self.state["buckets"]
        want = sorted(bmap, key=int) if buckets is None else sorted(
            {str(b) for b in buckets} & set(bmap), key=int)
        if not want:
            out = self._empty()
        else:
            out = self.spark.read.schema(FILE_SCHEMA).parquet(
                *[os.path.join(self.path, "data", bmap[b], f"bucket={b}") for b in want]
            ).withColumn("bucket", bucket_expr(self.n_buckets))
        cols = [*BASE_COLS, "is_deleted", "bucket", *(["extra"] if include_deleted else [])]
        aligned = self.registry.align(out, base_cols=cols)
        if not include_deleted:
            aligned = aligned.filter(~F.col("is_deleted")).drop("is_deleted")
        return aligned

    def to_pandas_sorted(self):
        import pandas as pd  # noqa: F401
        return (
            self.read()
            .drop("bucket")
            .orderBy(*PK_COLUMNS)
            .toPandas()
        )

    # ------------------------------------------------------------------ write
    def bootstrap(self, snapshot_df: DataFrame, batch_id: str = "bootstrap") -> dict:
        """Initial full-sync load (reference "history", SURVEY.md §3.2):
        INSERT OVERWRITE of every bucket, event_id=0 rows.  Columns of the
        frame beyond the base payload (a state read back from a table types
        its DDL-added columns) fold into the ``extra`` map as strings."""
        self._assert_writable("bootstrap")
        # batch-id equality ONLY: range containment of (0,0) would also
        # match any later commit touching event 0, silently skipping an
        # intentional re-bootstrap under a fresh batch_id.  Ids live in a
        # dedicated durable list (bootstraps are rare) so idempotence
        # survives the bounded applied tail — a re-run would INSERT
        # OVERWRITE replayed state.
        if batch_id in self.state.get("bootstraps", []) or batch_id in self.applied_batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        t0 = time.time()
        snap = self._next_snapshot()
        cols = snapshot_df.columns
        named = [c for c in cols if c not in ROW_COLS]
        if named and "extra" in cols:
            raise ValueError(f"{batch_id}: snapshot carries both an extra map and "
                             f"extra columns {named}; pass one of the two")
        extra = F.col("extra") if "extra" in cols else F.lit(None).cast(EXTRA_TYPE)
        if named:
            extra = F.map_filter(
                F.map_from_arrays(F.array(*[F.lit(c) for c in named]),
                                  F.array(*[F.col(c).cast("string") for c in named])),
                lambda _k, v: v.isNotNull())
        # the union with an empty FILE_SCHEMA frame widens the frame's
        # types to the layout's and keeps every written column nullable
        df = self._empty().unionByName(snapshot_df.select(
            *BASE_COLS, F.lit(False).alias("is_deleted"), extra.alias("extra"),
            bucket_expr(self.n_buckets).alias("bucket")))
        written = self._write_buckets(df, snap, rebucket=True)
        st = dict(self.state)
        st["buckets"] = {str(b): snap for b in written}
        st["bootstraps"] = st.get("bootstraps", []) + [batch_id]
        self._commit(st, {"batch_id": batch_id, "min_event_id": 0, "max_event_id": 0,
                          "kind": "bootstrap", "wall_ms": (time.time() - t0) * 1000})
        return {"skipped": False, "batch_id": batch_id, "buckets": len(written)}

    def _write_buckets(self, df: DataFrame, snap: str, rebucket: bool = False) -> list[int]:
        """Write ``df`` as snapshot ``snap``'s ``bucket=NN/`` dirs in the one
        file layout (``ROW_COLS``); return the buckets written.  ``rebucket``
        (whole-table rewrites) first hashes the rows into 2×n_buckets
        partitions on bucket: twice as many partitions as buckets thins
        collision hot spots (two buckets on one reducer) at ~2 files per
        bucket.  The apply plan's frame is already partitioned on bucket."""
        df = df.select(*ROW_COLS)
        if rebucket:
            df = df.repartition(2 * self.n_buckets, "bucket")
        out_dir = os.path.join(self.path, "data", snap)
        df.write.partitionBy("bucket").option("compression", WRITE_CODEC).mode("overwrite").parquet(out_dir)
        return sorted(
            int(d.split("=", 1)[1]) for d in self._fs.listdir(out_dir) if d.startswith("bucket=")
        )

    def merge(self, resolved: DataFrame, batch_id: str, batch_range: tuple[int, int],
              range_exclusive: bool = False, gtid_set: str | None = None) -> dict:
        """MERGE already LWW-resolved ops (one terminal op per PK) into the
        table — a thin entry into ``apply_ops``: resolved ops are still ops.

        Equivalent SQL (SURVEY.md §2.3 M1):
          MERGE INTO target t USING resolved s ON t.repo=s.repo AND t.path=s.path
          WHEN MATCHED AND s.op='delete' AND s.event_id > t.last_event_id THEN DELETE
          WHEN MATCHED AND s.event_id > t.last_event_id THEN UPDATE SET *
          WHEN NOT MATCHED AND s.op!='delete' THEN INSERT *
        """
        cols = resolved.columns
        if "seq" not in cols:
            # rank them the way events_to_ops does
            resolved = resolved.withColumn(
                "seq", F.col("event_id") * 2 + (F.col("op") == "upsert").cast("long"))
        if "extra" not in cols:
            resolved = resolved.withColumn("extra", F.lit(None).cast(EXTRA_TYPE))
        return self.apply_ops(resolved, batch_id, batch_range,
                              range_exclusive=range_exclusive, gtid_set=gtid_set)

    def apply_ops(self, ops: DataFrame, batch_id: str, batch_range: tuple[int, int],
                  n_ops_hint: int | None = None, n_keys_hint: int | None = None,
                  range_exclusive: bool = False, gtid_set: str | None = None, touched: list[int] | None = None) -> dict:
        """Apply RAW (un-deduped) keyed ops — the table's one apply path.

        MERGE *is* LWW: the rows of the buckets the batch touches (read
        pruned to those buckets; live rows as the upsert that produced them,
        ``seq = 2*last_event_id + 1``, tombstones as their delete) are
        unioned with the batch ops and ONE ``max_by(seq)`` per (bucket, PK)
        picks each key's final row (``operators.lww.resolve_lww``).  ONE
        payload exchange — hash-partitioned on ``bucket`` into one partition
        per touched bucket — serves both that aggregate and the
        partitionBy("bucket") write, and the commit repoints only the
        touched buckets.  At equal seq the table row wins: the strict-newer
        guard of the SQL MERGE (``s.event_id > t.last_event_id``).

        ``touched`` is the set of buckets the ops fall in.  The replay
        engine collects it in the pre-scan it already runs; without it, ONE
        agg job here collects it together with whichever of the op count
        and the distinct-key estimate was not hinted.  Those two arm the
        map-side pre-LWW combine for dup-heavy (hot-key) batches: a batch
        whose ops-per-key ratio reaches ``PRELWW_RATIO`` collapses its
        duplicates before the exchange instead of piling them onto one
        reducer.

        ``ops`` carry their DDL-added values in the raw ``extra`` map, which
        the plan moves as one payload column: LWW picks whole payloads, so
        the merge never needs the schema version.
        """
        self._assert_writable("apply_ops")
        if self.is_applied(batch_id, batch_range, range_exclusive):
            return {"skipped": True, "batch_id": batch_id}
        stats = {}
        if touched is None:
            stats["touched"] = F.collect_set(bucket_expr(self.n_buckets))
        if n_ops_hint is None:
            stats["n"] = F.count("*")
        if n_keys_hint is None:
            # a size hint alone must not silently disarm the pre-LWW guard
            stats["k"] = F.approx_count_distinct(F.concat_ws("\x01", *PK_COLUMNS))
        if stats:
            r = ops.agg(*[c.alias(k) for k, c in stats.items()]).collect()[0]
            touched = r["touched"] if touched is None else touched
            n_ops_hint = r["n"] if n_ops_hint is None else n_ops_hint
            n_keys_hint = r["k"] if n_keys_hint is None else n_keys_hint
        pre_lww = bool(n_keys_hint) and n_ops_hint >= PRELWW_RATIO * n_keys_hint
        return self._apply(ops, batch_id, batch_range, touched=touched,
                           gtid_set=gtid_set, pre_lww=pre_lww, n_ops=n_ops_hint)

    def _merge_plan(self, ops: DataFrame, touched: list[int], pre_lww: bool = False) -> DataFrame:
        """The apply plan, unexecuted: ``ops`` (all in the sorted ``touched``
        buckets) above the table's clear floor (``apply_ddl``) merged with
        those buckets' rows into the rows to write.  ``tools/plan_audit.py``
        explains this frame."""
        from bifrost_spark.operators import lww

        payload = ["op", "commit", "lang", "content", "extra", "event_id"]
        # the clear floor: a TRUNCATE / DROP TABLE at ``cleared_at`` dropped
        # every op older than itself, whichever batch carries it
        ops = ops.filter(F.col("event_id") > F.lit(self.state.get("cleared_at", -1)))
        if pre_lww:
            # Hot-key mitigation: the single exchange below moves RAW batch
            # ops to their bucket's reducer, so a dup-heavy batch would pile
            # one key's ops onto one task.  Pre-resolving costs one extra PK
            # exchange of the BATCH ONLY (the map-side partial max_by
            # collapses a hot key to ≤1 row per map task before it moves).
            ops = lww.resolve_lww(ops, payload=payload)

        # Rank = 2*seq + is_table_row: at equal seq the table row wins (the
        # strict-newer MERGE guard), and max_by never sees a tie.
        src = ops.select(
            *PK_COLUMNS, *payload,
            (F.col("seq").cast("long") * 2).alias("seq"),
            bucket_expr(self.n_buckets).alias("bucket"),
        )
        tgt = self.read(buckets=touched, include_deleted=True)
        tgt_ops = tgt.select(
            *PK_COLUMNS,
            F.when(F.col("is_deleted"), F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
            "commit", "lang", "content", "extra",
            F.col("last_event_id").alias("event_id"),
            # a live row ranks as the upsert that produced it, a tombstone
            # as its delete — the events_to_ops encoding (2e+1 / 2e)
            ((F.col("last_event_id") * 2 + F.when(F.col("is_deleted"), F.lit(0)).otherwise(F.lit(1)))
             * 2 + 1).cast("long").alias("seq"),
            F.col("bucket"),
        )

        # ONE payload exchange for LWW *and* the partitioned write: bucket is
        # a pure function of the PK, so hash-partitioning on bucket alone
        # co-locates every row of a PK — and Catalyst accepts it, because
        # HashPartitioning(bucket) satisfies the aggregate's
        # ClusteredDistribution(bucket, repo, path).  Its bucket alignment
        # flows through the aggregate straight into the partitionBy("bucket")
        # write: one file per bucket, no second shuffle.  One partition per
        # touched bucket: a hash partition holds whole buckets, so the width
        # sets only the task count, and the rest of the table is never read.
        win = lww.resolve_lww(
            src.unionByName(tgt_ops).repartition(len(touched), "bucket"),
            keys=["bucket", *PK_COLUMNS], payload=payload,
        )
        is_del = F.col("op") == "delete"
        return win.select(
            *PK_COLUMNS,
            *[F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias(c)
              for c in ("commit", "lang", "content")],
            F.col("event_id").alias("last_event_id"),
            is_del.alias("is_deleted"),
            F.when(is_del, F.lit(None)).otherwise(F.col("extra")).alias("extra"),
            F.col("bucket"),
        )

    def _apply(self, ops: DataFrame, batch_id: str, batch_range: tuple[int, int],
               touched: list[int], gtid_set: str | None = None, pre_lww: bool = False,
               n_ops: int | None = None) -> dict:
        from pyspark.sql import Observation

        touched = sorted({int(b) for b in touched})
        if not touched:
            return self._commit_noop(batch_id, batch_range)
        t0 = time.time()
        obs = Observation(f"merge_{batch_id}")
        out = self._merge_plan(ops, touched, pre_lww).observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.when(F.col("is_deleted"), 1).otherwise(0)).alias("tombstones"),
        )
        snap = self._next_snapshot()
        written = self._write_buckets(out, snap)
        if not set(written) <= set(touched):
            # a bucket outside ``touched`` was written from its ops alone —
            # committing it would drop the rows the pruned read skipped
            raise RuntimeError(
                f"{batch_id}: ops fall in buckets {sorted(set(written) - set(touched))} "
                "outside the touched set; nothing committed")
        wall_ms = (time.time() - t0) * 1000

        st = dict(self.state)
        # a touched bucket that had rows was read, so it was rewritten
        st["buckets"] = {**st["buckets"], **{str(b): snap for b in written}}
        st["last_event_id"] = max(st["last_event_id"], batch_range[1])
        self._union_gtid(st, gtid_set)
        m = obs.get
        self._commit(st, {"batch_id": batch_id, "min_event_id": batch_range[0],
                          "max_event_id": batch_range[1], "kind": "merge",
                          "n_ops": n_ops, "wall_ms": wall_ms, "rows_out": m["rows_out"],
                          "tombstones": m["tombstones"], "buckets_rewritten": len(written)})
        return {"skipped": False, "batch_id": batch_id, "fused": True, "pre_lww": pre_lww,
                "buckets_rewritten": len(written), "n_ops": n_ops, "wall_ms": wall_ms}

    def quarantine(self, events: DataFrame, batch_id: str, batch_range: tuple[int, int],
                   error: str) -> dict:
        """Dead-letter a poison batch (M9): persist its RAW input events
        under ``_deadletter/<batch_id>/`` for offline repair, then commit a
        ``dead_letter`` manifest entry so the stream proceeds past it with
        the skip on the permanent record — the reference's
        not-must-be-success escape hatch that logs the error and advances
        (/root/reference/server/to_server_consume.go:228-289,
        /root/reference/plugin/mysql/src/mysql.go:610-613).  The quarantined
        range counts as applied (exactly-once bookkeeping stays monotone);
        re-applying the repaired events later goes through the normal merge
        guard, which ignores anything older than what has since landed."""
        self._assert_writable("quarantine")
        t0 = time.time()
        dl_dir = os.path.join(self.path, "_deadletter", batch_id.replace(":", "_"))
        events.write.mode("overwrite").parquet(dl_dir)
        st = dict(self.state)
        st["last_event_id"] = max(st["last_event_id"], batch_range[1])
        entry = {"batch_id": batch_id, "min_event_id": batch_range[0],
                 "max_event_id": batch_range[1], "kind": "dead_letter",
                 "wall_ms": (time.time() - t0) * 1000, "error": error[:2000], "path": dl_dir}
        # A quarantine record is the ONLY pointer to the unrepaired data, so
        # it lives in its own unbounded list — the applied tail is a bounded
        # ring and would age it out after APPLIED_TAIL commits.
        st["dead_letters"] = st.get("dead_letters", []) + [entry]
        self._commit(st, entry)
        return {"skipped": False, "dead_lettered": True, "batch_id": batch_id,
                "path": dl_dir, "error": error[:500]}

    def dead_letters(self) -> list[dict]:
        """Quarantined batches awaiting repair (permanent record — survives
        the bounded applied tail; entries leave via ``repair_dead_letter``)."""
        return list(self.state.get("dead_letters", []))

    def repair_dead_letter(self, batch_id: str) -> dict:
        """Re-apply a quarantined batch's raw events (after offline repair /
        a fixed sink) under a fresh ``repair:`` batch id — the original id
        stays on the applied record, so exactly-once bookkeeping is intact
        and the per-key merge guard drops anything that has since been
        superseded by newer events.  Retiring the quarantine record is a
        commit of its own, after the repair's."""
        self._assert_writable("repair_dead_letter")
        from bifrost_spark.operators.lww import events_to_ops

        entry = next((a for a in self.dead_letters() if a["batch_id"] == batch_id), None)
        if entry is None:
            raise KeyError(f"no dead-letter record for batch_id {batch_id!r}; "
                           f"pending: {[a['batch_id'] for a in self.dead_letters()]}")
        events = self.spark.read.parquet(entry["path"])
        res = self.apply_ops(
            events_to_ops(events), batch_id=f"repair:{batch_id}",
            batch_range=(entry["min_event_id"], entry["max_event_id"]),
        )
        # repaired → retire the quarantine record (the raw events stay on
        # disk under _deadletter/ until vacuumed by the operator)
        st = dict(self.state)
        st["dead_letters"] = [a for a in st.get("dead_letters", [])
                              if a["batch_id"] != batch_id]
        self._commit(st, {"batch_id": f"retire:{batch_id}", "kind": "dead_letter_retired",
                          "n_ops": 0})
        return res

    # ---------------------------------------------------------- maintenance
    def compact(self, tombstone_low_water_mark: int | None = None) -> dict:
        """Table maintenance (Iceberg rewrite_data_files + positional-delete
        compaction, SURVEY.md merge module docstring):

        - rewrites every live bucket into ONE fresh snapshot with one file
          per bucket (merges the file droppings of many small merges), in
          the one file layout: each row's ``extra`` map is copied as
          scanned, so values of columns a later DDL adds back survive;
        - GCs tombstone rows whose ``last_event_id`` ≤ the source low-water
          mark: safe exactly when no replayable batch at-or-below the mark
          remains, because the tombstone's only job is to block a LATE
          lower-event_id upsert from resurrecting a deleted key.

        Commit protocol is the same copy-on-write + atomic CURRENT swing as
        ``merge`` — readers are never torn, and a crash mid-compact leaves
        only an orphan snapshot dir for ``vacuum``.
        """
        self._assert_writable("compact")
        t0 = time.time()
        lwm = -1 if tombstone_low_water_mark is None else tombstone_low_water_mark
        cur = self.read(include_deleted=True)
        keep = cur.filter(~F.col("is_deleted") | (F.col("last_event_id") > F.lit(lwm)))
        snap = self._next_snapshot()
        written = self._write_buckets(keep, snap, rebucket=True)
        st = dict(self.state)
        st["buckets"] = {str(b): snap for b in written}
        # high-water purge mark: changelog reads (operators/changes.py) from
        # a snapshot older than this would silently miss purged deletes, so
        # the manifest carries it forward for them to refuse on
        st["tombstone_lwm"] = max(st.get("tombstone_lwm", -1), lwm)
        self._commit(st, {"batch_id": f"compact:{snap}", "kind": "compact", "n_ops": 0,
                          "wall_ms": (time.time() - t0) * 1000, "tombstone_lwm": lwm})
        return {"snapshot": snap, "buckets": len(written)}

    def vacuum(self) -> dict:
        """Remove snapshot data dirs no longer referenced by any bucket and
        state files older than CURRENT (orphans from crashes and superseded
        copy-on-write commits).  Safe with live readers only under the
        single-writer assumption readers use a loaded-state handle for —
        like Iceberg's expire_snapshots, callers pick the retention moment."""
        self._assert_writable("vacuum")
        live = set(self.state["buckets"].values())
        data = os.path.join(self.path, "data")
        removed = []
        for d in self._fs.listdir(data):
            if d not in live:
                self._fs.rmtree(os.path.join(data, d))
                removed.append(d)
        cur = self.state["snapshot"]
        sdir = os.path.join(self.path, "_state")
        for f in self._fs.listdir(sdir):
            if f.endswith(".json") and f != f"{cur}.json":
                self._fs.unlink(os.path.join(sdir, f))
        return {"removed_snapshots": sorted(removed)}

    def _commit_noop(self, batch_id: str, batch_range: tuple[int, int]) -> dict:
        st = dict(self.state)
        st["last_event_id"] = max(st["last_event_id"], batch_range[1])
        self._commit(st, {"batch_id": batch_id, "min_event_id": batch_range[0],
                          "max_event_id": batch_range[1], "kind": "noop", "n_ops": 0})
        return {"skipped": False, "batch_id": batch_id, "n_ops": 0}

    # ------------------------------------------------------------------ DDL
    def apply_ddl(self, query: str, batch_id: str, event_id: int,
                  range_exclusive: bool = False, defer_lwm: bool = False) -> dict:
        """Schema evolution — metadata-only commit (Iceberg-style).

        ADD/MODIFY/CHANGE/DROP COLUMN bump the registry; data files are not
        rewritten (reads align).  TRUNCATE and DROP TABLE clear the bucket
        map and record ``event_id`` as the clear floor ``cleared_at``: a
        range tombstone over the whole table, below which ``_merge_plan``
        lets no op land again — not the rest of the batch that carried the
        DDL, not a late event of unordered delivery.  This is the one place
        that decides which DDLs clear the table.  Mirrors the reference's
        ALTER transfer + cache invalidation
        (/root/reference/plugin/clickhouse/src/alter_sql.go:59-330,
        /root/reference/Bristol/mysql/conn_dump.go:196-203).
        """
        self._assert_writable("apply_ddl")
        if self.is_applied(batch_id, (event_id, event_id), range_exclusive):
            return {"skipped": True, "batch_id": batch_id}
        # evolve a copy: this handle's registry changes only through the
        # commit's reload, so a failed commit leaves it as it was
        registry = SchemaRegistry.from_dict(self.state["registry"])
        new_v = registry.apply_ddl(query)
        st = dict(self.state)
        st["registry"] = registry.to_dict()
        if new_v.truncated or new_v.dropped:
            # TRUNCATE empties the table; DROP TABLE additionally evicted the
            # cached schema (registry.apply_ddl) — both clear the bucket map
            st["buckets"] = {}
            st["cleared_at"] = max(st.get("cleared_at", -1), event_id)
        if not defer_lwm:
            # defer_lwm=True: the DDL commits ahead of its batch's one merge
            # (ReplayEngine.apply_batch), which still holds data events
            # older than it; advancing the high-water mark past the DDL id
            # here would mark those unapplied events stale on a
            # crash-resume.  The merge's own commit advances it.
            st["last_event_id"] = max(st["last_event_id"], event_id)
        self._commit(st, {"batch_id": batch_id, "min_event_id": event_id,
                          "max_event_id": event_id, "kind": "ddl", "query": query, "n_ops": 0})
        return {"skipped": False, "batch_id": batch_id, "schema_version": new_v.version}
