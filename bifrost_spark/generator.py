"""Deterministic synthetic CDC event generator (Spark-native, seeded).

Re-expresses the reference's mock/performance source
(/root/reference/input/mock/performance_table.go:27-125 — N seed inserts then
mixed insert/update/delete at configurable ratios, batched) and its
randomized plugin-test generator (/root/reference/sdk/pluginTestData/data.go)
as pure DataFrame expressions: ``spark.range(n)`` plus xxhash64-derived
uniforms.  No driver-side loops, no Python row generation — the event log for
a 10^10-event bench is produced distributed, the same way it would be on a
1000-executor cluster.

Determinism: every value is a pure function of (seed, event index), so any
scale regenerates bit-identically; phase 2 op mix follows the reference's
DeleteEventRatio knob.  Ordering: ``event_id`` is strictly increasing (data
events even, DDL events odd — DDL interleaves at exact positions), and
``(file_num, pos)`` mirrors binlog rotation every ``events_per_file`` events
(/root/reference/Bristol/mysql/parser.go:59-62 assigns the monotone EventID;
/root/reference/server/recovery.go:61-93 orders by it).

Skew: the key→repo mapping is power-law so repo 0 ("linux") / repo 1
("chromium") are mega-repos — the hot-key fixture from FIXTURES.md §1.
"""

from __future__ import annotations

import datetime
import zlib
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bifrost_spark.registry import SchemaRegistry
from bifrost_spark.schemas import EVENT_SCHEMA

_LANGS = ["py", "c", "go", "rs", "js", "ts", "java", "rb", "cpp", "h", "md", "sh"]
_LANG_NAMES = {
    "py": "python", "c": "c", "go": "go", "rs": "rust", "js": "javascript",
    "ts": "typescript", "java": "java", "rb": "ruby", "cpp": "cpp", "h": "c",
    "md": "markdown", "sh": "shell",
}


@dataclass
class GeneratorConfig:
    n_events: int = 100_000
    n_keys: int = 10_000
    n_repos: int = 200
    seed: int = 42
    delete_ratio: float = 0.05          # reference knob DeleteEventRatio
    pk_change_ratio: float = 0.02       # updates where before.path != after.path
    zipf_exp: float = 3.0               # key→repo skew exponent
    key_skew_exp: float = 1.6           # phase-2 key-pick skew (hot keys)
    events_per_file: int = 100_000      # binlog "rotation" period
    snapshot_keys: int = 0              # keys pre-loaded via full sync (event_id=0)
    # DDL schedule: (data_event_index, sql). Interleaved with odd event_ids.
    ddl: list[tuple[int, str]] = field(default_factory=list)

    @property
    def phase1(self) -> int:
        return min(self.n_keys // 2, self.n_events // 2)


def _u(col: Column, seed: int, tag: int) -> Column:
    """Deterministic uniform in [0,1) from a column — the generator's RNG."""
    return (F.pmod(F.xxhash64(col, F.lit(seed), F.lit(tag)), F.lit(1_000_000)) / 1_000_000.0).cast("double")


def _key_to_repo_idx(key: Column, cfg: GeneratorConfig) -> Column:
    # power-law: key 0..n_keys maps onto repos with repo 0 owning the most keys
    frac = key.cast("double") / F.lit(float(max(cfg.n_keys, 1)))
    return F.least(
        F.lit(cfg.n_repos - 1),
        F.floor(F.pow(frac, F.lit(cfg.zipf_exp)) * F.lit(float(cfg.n_repos))).cast("int"),
    )


def _repo_name(repo_idx: Column) -> Column:
    return (
        F.when(repo_idx == 0, F.lit("linux"))
        .when(repo_idx == 1, F.lit("chromium"))
        .otherwise(F.concat(F.lit("repo_"), F.lpad(repo_idx.cast("string"), 5, "0")))
    )


def _ext(key: Column, cfg: GeneratorConfig) -> Column:
    i = F.pmod(F.xxhash64(key, F.lit(cfg.seed), F.lit(77)), F.lit(len(_LANGS)))
    mapping = F.array(*[F.lit(x) for x in _LANGS])
    return F.element_at(mapping, (i + 1).cast("int"))


def _payload(key: Column, event_id: Column, cfg: GeneratorConfig, extras: Column) -> Column:
    """Full row image for `key` as of `event_id` — every field a pure
    function of (seed, key, event_id) so oracles can recompute it."""
    ext = _ext(key, cfg)
    lang_arr = F.array(*[F.lit(_LANG_NAMES[x]) for x in _LANGS])
    lang_idx = F.pmod(F.xxhash64(key, F.lit(cfg.seed), F.lit(77)), F.lit(len(_LANGS)))
    repo_idx = _key_to_repo_idx(key, cfg)
    h = F.sha2(F.concat_ws("|", F.lit(cfg.seed), key.cast("string"), event_id.cast("string")), 256)
    nblocks = (F.pmod(F.xxhash64(key, event_id, F.lit(cfg.seed + 5)), F.lit(6)) + 1).cast("int")
    content = F.concat_ws(
        "\n",
        F.concat(F.lit("// file "), key.cast("string"), F.lit(" rev "), event_id.cast("string")),
        F.array_join(F.transform(F.sequence(F.lit(1), nblocks), lambda i: F.concat(h, F.lit("_"), i.cast("string"))), "\n"),
    )
    return F.struct(
        _repo_name(repo_idx).alias("repo"),
        F.concat(
            F.lit("dir"),
            F.lpad(F.pmod(key, F.lit(97)).cast("string"), 2, "0"),
            F.lit("/file_"),
            F.lpad(key.cast("string"), 8, "0"),
            F.lit("."),
            ext,
        ).alias("path"),
        F.substring(h, 1, 40).alias("commit"),
        F.element_at(lang_arr, (lang_idx + 1).cast("int")).alias("lang"),
        content.alias("content"),
        extras.alias("extra"),
    )


def _pk_only(key: Column, cfg: GeneratorConfig) -> Column:
    """Before-image for delete / pk-change: PK columns only (the reference's
    delete path reads only the before-image PK —
    /root/reference/plugin/clickhouse/src/normal_sync.go:82-121)."""
    repo_idx = _key_to_repo_idx(key, cfg)
    return F.struct(
        _repo_name(repo_idx).alias("repo"),
        F.concat(
            F.lit("dir"),
            F.lpad(F.pmod(key, F.lit(97)).cast("string"), 2, "0"),
            F.lit("/file_"),
            F.lpad(key.cast("string"), 8, "0"),
            F.lit("."),
            _ext(key, cfg),
        ).alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.lit(None).cast("map<string,string>").alias("extra"),
    )


def _schema_version_expr(idx: Column, cfg: GeneratorConfig) -> Column:
    """schema_version after each data event = count of DDLs at or before it."""
    v = F.lit(0)
    for n, (ddl_idx, _sql) in enumerate(sorted(cfg.ddl)):
        v = F.when(idx > F.lit(ddl_idx), F.lit(n + 1)).otherwise(v)
    return v.cast("int")


def _extras_expr(key: Column, idx: Column, sv: Column, cfg: GeneratorConfig, registry: SchemaRegistry) -> Column:
    """extra map<string,string> for the columns live at each schema version —
    deterministic values so the oracle can recompute them."""
    expr = F.lit(None).cast("map<string,string>")
    for v in range(1, registry.current_version + 1):
        extras = registry.version(v).extras
        if not extras:
            continue
        kvs: list[Column] = []
        for name, _ltype in extras:
            kvs.append(F.lit(name))
            tag = zlib.crc32(name.encode()) % 2**31
            kvs.append(F.pmod(F.xxhash64(key, idx, F.lit(tag)), F.lit(100_000)).cast("string"))
        expr = F.when(sv == v, F.create_map(*kvs)).otherwise(expr)
    return expr


def registry_for(cfg: GeneratorConfig) -> SchemaRegistry:
    reg = SchemaRegistry()
    for _idx, sql in sorted(cfg.ddl):
        reg.apply_ddl(sql)
    return reg


def generate_events(spark: SparkSession, cfg: GeneratorConfig) -> DataFrame:
    """The ordered change-event log as a DataFrame (EVENT_SCHEMA)."""
    reg = registry_for(cfg)
    df = spark.range(cfg.n_events).withColumnRenamed("id", "idx")
    idx = F.col("idx")

    u_op = _u(idx, cfg.seed, 1)
    u_key = _u(idx, cfg.seed, 2)
    u_pk = _u(idx, cfg.seed, 3)

    phase1 = idx < F.lit(cfg.phase1)
    # phase-2 key pick, skewed toward low keys (hot rows)
    p2_key = F.floor(F.pow(u_key, F.lit(cfg.key_skew_exp)) * F.lit(float(cfg.n_keys))).cast("long")
    key = F.when(phase1, idx).otherwise(p2_key)

    upd_hi = F.lit(1.0 - cfg.delete_ratio)
    event_type = (
        F.when(phase1, F.lit("insert"))
        .when(u_op >= upd_hi, F.lit("delete"))
        .when(u_op < F.lit(0.5), F.lit("update"))
        .otherwise(F.lit("insert"))
    )
    pk_change = (event_type == "update") & (u_pk < F.lit(cfg.pk_change_ratio))
    # pk-change target key: deterministic different key
    key2 = F.pmod(key + 1 + F.pmod(F.xxhash64(idx, F.lit(cfg.seed), F.lit(9)), F.lit(997)), F.lit(cfg.n_keys))

    event_id = (idx * 2 + 2).cast("long")
    sv = _schema_version_expr(idx, cfg)
    extras_after = _extras_expr(F.when(pk_change, key2).otherwise(key), idx, sv, cfg, reg)

    after_key = F.when(pk_change, key2).otherwise(key)
    before = F.when(event_type == "delete", _pk_only(key, cfg)).when(
        event_type == "update", _pk_only(key, cfg)
    )
    after = F.when(event_type != "delete", _payload(after_key, event_id, cfg, extras_after))

    data = df.select(
        event_id.alias("event_id"),
        (F.lit(1) + (idx / cfg.events_per_file).cast("int")).alias("file_num"),
        (F.lit(4) + F.pmod(idx, F.lit(cfg.events_per_file)) * 128).cast("long").alias("pos"),
        event_type.alias("event_type"),
        F.lit("code").alias("schema_name"),
        F.lit("repos").alias("table_name"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=(idx / 50).cast("double"))).alias("ts"),
        F.concat(F.lit("gtid-0001:"), event_id.cast("string")).alias("gtid"),
        F.array(F.lit("repo"), F.lit("path")).alias("pri"),
        before.alias("before"),
        after.alias("after"),
        F.lit(None).cast("string").alias("query"),
        sv.alias("schema_version"),
    )

    if cfg.ddl:
        rows = []
        for n, (ddl_idx, sql) in enumerate(sorted(cfg.ddl)):
            eid = ddl_idx * 2 + 3  # odd: sorts right after data event ddl_idx
            rows.append(
                (
                    eid,
                    1 + ddl_idx // cfg.events_per_file,
                    4 + (ddl_idx % cfg.events_per_file) * 128 + 1,
                    "ddl",
                    "code",
                    "repos",
                    datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ddl_idx / 50),
                    f"gtid-0001:{eid}",
                    ["repo", "path"],
                    None,
                    None,
                    sql,
                    n + 1,
                )
            )
        ddl_df = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
        data = data.unionByName(ddl_df)

    return data


def generate_snapshot(spark: SparkSession, cfg: GeneratorConfig) -> DataFrame:
    """Initial full-sync snapshot (the reference's "history" path,
    /root/reference/server/history/select.go) — rows for keys
    [0, snapshot_keys) with event_id=0 so every incremental event wins LWW
    (SURVEY.md §3.2)."""
    df = spark.range(cfg.snapshot_keys).withColumnRenamed("id", "key")
    p = _payload(F.col("key"), F.lit(0).cast("long"), cfg, F.lit(None).cast("map<string,string>"))
    return df.select(p.alias("p")).select("p.*").drop("extra").withColumn("last_event_id", F.lit(0).cast("long"))


def write_event_log(df: DataFrame, path: str, n_chunks: int = 16, files_per_chunk: int = 8) -> None:
    """Materialize the event log as `chunk=NNNN/` parquet dirs, chunked by
    event_id range — the replayable 'binlog'. Chunk = micro-batch unit for
    both the batch replay driver and the file-stream source.

    ``files_per_chunk`` splits each chunk across several parquet files so a
    replay scans it with that many parallel tasks from the first stage — a
    chunk written as one file would serialize the scan+LWW map side behind a
    single task, exactly like a real CDC batch arriving over one Kafka
    partition instead of many.

    The intra-chunk file key is ``pmod(event_id DIV 2, files_per_chunk)``:
    data event_ids are all even (DDL odd), so ``pmod(event_id, N)`` would
    hit only half the residues and halve the real file count — which halves
    the replay's scan parallelism (measured: it capped a local[32] scan at a
    handful of 128MB-packed tasks).
    """
    stats = df.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).collect()[0]
    lo, hi = stats["lo"], stats["hi"]
    span = max(1, (hi - lo + n_chunks) // n_chunks)
    (
        df.withColumn("chunk", F.lpad(((F.col("event_id") - lo) / span).cast("int").cast("string"), 4, "0"))
        .withColumn("_file", F.pmod((F.col("event_id") / 2).cast("long"), F.lit(files_per_chunk)))
        # range-partition on (chunk, _file): ~1 group per output partition,
        # so every chunk really gets ~files_per_chunk similar-sized files
        # (hash repartition would merge ~1/3 of the groups by collision).
        .repartitionByRange(n_chunks * files_per_chunk, "chunk", "_file")
        .sortWithinPartitions("event_id")
        .drop("_file")
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(path)
    )
    write_chunk_index(df.sparkSession, path)


def write_chunk_index(spark: SparkSession, path: str) -> None:
    """Write ``_chunks.json``: per chunk its data-event count ``n_data``,
    event_id range ``lo``/``hi``, first/last GTID, distinct-key estimate
    ``keys_est`` (the sum over its segments) and DDL list, plus
    ``segments`` — the same stats per run of data events between DDLs, which
    the position check (``pipelines/position.py``) reads.

    A real CDC source knows this without scanning payloads — a binlog dump
    carries positions on every envelope and DDLs arrive inline; Kafka batches
    carry offset ranges.  The replay engine uses the chunk-level fields to
    skip its per-batch pre-scan stats job (one driver round-trip + a column
    scan per micro-batch — pure fixed overhead that extra cores cannot
    reduce).  The index is derived here with ONE column-pruned scan of the
    written log at setup time; batches without an index entry fall back to
    the scan path.
    """
    import json
    import os

    # partition-type inference turns the chunk=0000 dir value into int 0;
    # re-pad so index keys match the directory names replay iterates
    from bifrost_spark.operators.lww import lww_key_expr

    df = spark.read.parquet(path).select(
        F.lpad(F.col("chunk").cast("string"), 4, "0").alias("chunk"),
        "event_id", "event_type", "query", "gtid",
        # LWW key of the event (after-image PK; before-image for deletes) —
        # feeds the per-segment distinct-key estimate the fused merge's
        # hot-key decision uses (ops/keys ratio), still a pruned-column scan
        lww_key_expr().alias("_key"),
    )
    is_data = F.col("event_type").isin("insert", "update", "delete")
    ddl_rows = sorted(
        df.filter(F.col("event_type") == "ddl").select("chunk", "event_id", "query").collect(),
        key=lambda r: r["event_id"],
    )
    # segment index within a chunk = number of same-chunk DDLs below the
    # event (DDLs are a handful per stream, so this stays a tiny expression)
    seg = F.lit(0)
    for d in ddl_rows:
        seg = seg + F.when((F.col("chunk") == d["chunk"]) & (F.col("event_id") > d["event_id"]), 1).otherwise(0)
    rows = (
        df.filter(is_data)
        .groupBy("chunk", seg.alias("seg"))
        .agg(
            F.count("*").alias("n_data"),
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
            F.min_by(F.col("gtid"), F.col("event_id")).alias("gtid_first"),
            F.max_by(F.col("gtid"), F.col("event_id")).alias("gtid_last"),
            F.approx_count_distinct("_key").alias("keys_est"),
        )
        .collect()
    )
    index: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: (r["chunk"], r["seg"])):
        e = index.setdefault(
            f"chunk={r['chunk']}",
            {"n_data": 0, "lo": None, "hi": None, "gtid_first": None, "gtid_last": None,
             "keys_est": 0, "segments": [], "ddls": []},
        )
        e["segments"].append({
            "n_data": r["n_data"], "lo": r["lo"], "hi": r["hi"],
            "gtid_first": r["gtid_first"], "gtid_last": r["gtid_last"],
            "keys_est": r["keys_est"],
        })
        e["n_data"] += r["n_data"]
        e["keys_est"] += r["keys_est"]
        e["lo"] = r["lo"] if e["lo"] is None else min(e["lo"], r["lo"])
        e["hi"] = r["hi"] if e["hi"] is None else max(e["hi"], r["hi"])
        e["gtid_first"] = e["gtid_first"] or r["gtid_first"]
        e["gtid_last"] = r["gtid_last"]
    for d in ddl_rows:
        index.setdefault(
            f"chunk={d['chunk']}",
            {"n_data": 0, "lo": None, "hi": None, "gtid_first": None, "gtid_last": None,
             "keys_est": 0, "segments": [], "ddls": []},
        )["ddls"].append({"event_id": d["event_id"], "query": d["query"]})
    # scheme:// log roots (s3a/hdfs/...) go through the Hadoop FS like the
    # table metadata does; plain paths stay POSIX-atomic via os.replace
    from bifrost_spark.metafs import metafs_for

    metafs_for(spark, path).write_text_atomic(
        os.path.join(path, "_chunks.json"), json.dumps(index, indent=1)
    )
