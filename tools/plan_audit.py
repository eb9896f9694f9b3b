"""Physical-plan audit → PLANS.md.

Captures `.explain("formatted")` for the engine's hot paths and asserts the
plan properties the 100 TB design depends on:

1. the replay pre-scan (``replay.prescan_agg``): nested-column pruning
   keeps every payload field of the before/after images out of ReadSchema;
2. LWW resolve: partial max_by BEFORE the exchange (map-side combine — the
   scalable hot-key answer) and ONE exchange;
3. the apply plan (``TargetTable._merge_plan``): exactly ONE payload
   exchange, sized to the touched buckets, single pass over the union (no
   shuffled join; SortAggregate is expected — see the in-code note), the
   batch ops filtered to the table's clear floor (``cleared_at``) below the
   exchange, and the table side scanned from exactly the touched buckets'
   directories;
4. bucket-pruned read: ONE scan whose root paths are exactly the requested
   buckets' ``data/<snap>/bucket=NN`` directories (pruning by path list,
   not a data filter).

Run: python tools/plan_audit.py   (writes PLANS.md; exits non-zero if an
assertion fails, so it doubles as a regression gate.)
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bifrost_spark.generator import (  # noqa: E402
    GeneratorConfig,
    generate_events,
    generate_snapshot,
    write_event_log,
)
from bifrost_spark.operators.lww import events_to_ops, resolve_lww  # noqa: E402
from bifrost_spark.operators.merge import TargetTable  # noqa: E402
from bifrost_spark.pipelines.replay import prescan_agg  # noqa: E402
from bifrost_spark.schemas import EVENT_SCHEMA  # noqa: E402
from bifrost_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/dev/shm/bifrost_plan_audit" if os.path.isdir("/dev/shm") else os.path.join(REPO, ".tmp", "plan_audit")


def n_nodes(plan: str, name: str) -> int:
    import re as _re
    return len(_re.findall(rf"^\(\d+\) {name}", plan, _re.M))


def scan_roots(df, under: str) -> list[list[str]]:
    """Root paths of each file scan under ``under`` in ``df``'s physical
    plan (before AQE), one list per scan."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        paths = leaf.relation().location().rootPaths()
        roots = [re.sub(r"^file:", "", paths.apply(j).toString()) for j in range(paths.size())]
        if all(r.startswith(under) for r in roots):
            scans.append(roots)
    return scans


def bucket_dirs(table, buckets: list[int]) -> list[str]:
    return sorted(os.path.join(table.path, "data", table.state["buckets"][str(b)], f"bucket={b}")
                  for b in buckets)


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = GeneratorConfig(n_events=40_000, n_keys=4_000, n_repos=40, seed=7, snapshot_keys=2_000)
    log = os.path.join(WORK, "log")
    write_event_log(generate_events(spark, cfg), log, n_chunks=2, files_per_chunk=4)
    table = TargetTable.create(spark, os.path.join(WORK, "tbl"), n_buckets=8)
    table.bootstrap(generate_snapshot(spark, cfg))

    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    events = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(log, "chunk=0000"))

    # 1. the engine's pre-scan: nested-column pruning to the images' PKs
    p = formatted(prescan_agg(events, table.n_buckets))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    checks = [
        ("ReadSchema has no payload field (commit/lang/content/extra)",
         bool(rs) and not any(f"{f}:" in ln for ln in rs for f in ("commit", "lang", "content", "extra"))),
    ]
    sections.append(("Replay pre-scan — column pruning to the scan", p, checks))

    # 2. LWW agg: partial max_by before exchange, single exchange
    ops = events_to_ops(events)
    p = formatted(resolve_lww(ops))
    checks = [
        ("exactly one shuffle Exchange (payload moves once)",
         n_nodes(p, "Exchange") == 1),
        ("partial aggregate (map-side combine) before the exchange",
         "partial_max_by" in p),
    ]
    sections.append(("LWW resolve — map-side partial combine, one exchange", p, checks))

    # 3. the apply plan: union → repartition(len(touched), bucket) →
    # groupBy(bucket, pk) — one exchange serves both the LWW aggregate and
    # the partitionBy("bucket") write, because HashPartitioning(bucket)
    # satisfies ClusteredDistribution(bucket, repo, path) and bucket is a
    # pure function of the PK (see TargetTable._merge_plan's single-exchange
    # note).
    plan = table._merge_plan(ops, [1, 2, 5])
    p = formatted(plan)
    roots = scan_roots(plan, os.path.join(table.path, "data"))
    checks = [
        ("exactly ONE shuffle Exchange for merge AND write layout "
         "(the aggregate reuses the bucket exchange; the partitioned write "
         "adds none)", n_nodes(p, "Exchange") == 1),
        ("the one exchange is hash-partitioned on bucket",
         "hashpartitioning(bucket" in p),
        ("no shuffled join (union + aggregate, not full-outer SMJ)",
         n_nodes(p, "SortMergeJoin") == 0 and n_nodes(p, "ShuffledHashJoin") == 0),
        ("the table side is ONE scan of exactly the touched buckets' directories",
         [sorted(r) for r in roots] == [bucket_dirs(table, [1, 2, 5])]),
        ("the batch ops are filtered to the clear floor (event_id > cleared_at) "
         "below the exchange", bool(re.search(
             rf"^Condition : .*\(event_id#\d+L > {table.state.get('cleared_at', -1)}\)",
             re.split(r"^\(\d+\) Exchange", p, flags=re.M)[0], re.M))),
    ]
    # NB: SortAggregate + per-partition Sort is EXPECTED here — Spark has no
    # hash exec for struct-buffer aggregates, and measured A/B showed the
    # one-pass sort-agg beats a no-sort two-pass late-materialization plan.
    # The partial max_by combine runs ABOVE the exchange in this shape (the
    # explicit bucket repartition is below the aggregate); the trade is one
    # whole payload exchange of the merged table deleted from the plan.
    sections.append(("Apply plan: touched buckets ∪ batch ops — one exchange end-to-end (incl. write)", p, checks))

    # 4. bucket-pruned read: the scan's path list is the pruning
    pruned = table.read(buckets=[1, 2])
    p = formatted(pruned)
    roots = scan_roots(pruned, os.path.join(table.path, "data"))
    checks = [
        ("the scan's root paths are exactly the requested buckets' directories",
         [sorted(r) for r in roots] == [bucket_dirs(table, [1, 2])]),
    ]
    sections.append(("Bucket-pruned table read — pruning by path list", p, checks))

    # 5. SimHash pairs: fingerprints computed ONCE (cached, reused by the
    # band join and both verify sides), band shuffle keyed on (band, value)
    from bifrost_spark.functions.cache import release_caches
    from bifrost_spark.functions.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 7} delta epsilon zeta") for i in range(64)],
        "doc_id long, text string",
    )
    sh = simhash_pairs(docs, n_bits=48, bands=4, max_hamming=3)
    sh.count()  # populate the cache so the reuse shows as InMemoryTableScan
    p = formatted(sh)
    checks = [
        ("fingerprints computed once and reused (InMemoryTableScan ≥ 3: band source + both verify sides)",
         p.count("InMemoryTableScan") >= 3),
        ("band self-join shuffles on the band key only (narrow rows), not payloads",
         "band_val" in p),
    ]
    sections.append(("SimHash near-dup pairs — cached fingerprints, narrow band shuffle", p, checks))
    release_caches()

    # 6. ANN signatures via Arrow matmul: plan size is O(1) in dim (dim 768
    # here — the literal-expression path would be ~23k Catalyst nodes)
    import numpy as np

    from bifrost_spark.functions.similarity import lsh_bucketed_topk

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, rng.randn(768).tolist()) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    ann = lsh_bucketed_topk(emb, q, dim=768, k=3, n_planes=10, n_tables=3,
                            signature_impl="pandas")
    p = formatted(ann)
    checks = [
        ("signatures via Arrow-batched pandas UDF (ArrowEvalPython in plan)",
         "ArrowEvalPython" in p),
        ("plan stays O(1) in dim: formatted plan < 100 KB at dim 768",
         len(p) < 100_000),
    ]
    sections.append(("LSH ANN top-k — Arrow matmul signatures, O(1) plan size at dim 768", p, checks))
    release_caches()

    # 7. F8 fan-out: one narrow pass — project + generate, no shuffle, one scan
    from bifrost_spark.sinks.fanout import SinkSpec, fanout

    fo = fanout(events, [
        SinkSpec(name="a", tables=("code.*",), filter_query=True),
        SinkSpec(name="b", fmt="canal", last_event_id=100, last_ts=1),
        SinkSpec(name="c", fmt="debezium", key_template="{$repo}/{$path}"),
    ])
    p = formatted(fo)
    checks = [
        ("no shuffle Exchange (fan-out is a narrow projection + explode)",
         n_nodes(p, "Exchange") == 0),
        ("single scan of the source (events read once for all sinks)",
         n_nodes(p, "Scan parquet") == 1),
        ("explode via Generate (replication factor explicit in rows)",
         n_nodes(p, "Generate") == 1),
    ]
    sections.append(("F8 multi-sink fan-out — one pass, no shuffle, N sinks per scan", p, checks))

    # 8b. IVF centroid seeding: the orderBy+limit seed scan must compile to
    # TakeOrderedAndProject (per-partition top-n_centroids, bounded driver
    # merge of n_centroids × partitions rows) — NOT a global Sort behind an
    # Exchange, which would shuffle every corpus key.  Also: assignment is
    # a max_by aggregate with a map-side partial combine and the centroid
    # set joins broadcast (no corpus-side shuffle before the agg).
    from bifrost_spark.functions.similarity import ivf_topk

    ivf = ivf_topk(emb, q, k=3, n_centroids=4, n_probe=2)
    p = formatted(ivf)
    checks = [
        ("centroid seed scan is TakeOrderedAndProject (bounded partial top-K)",
         "TakeOrderedAndProject" in p),
        ("no global Sort node for the seed scan (no full corpus ordering)",
         n_nodes(p, "Sort") == 0 or "TakeOrderedAndProject" in p),
        ("centroids broadcast to both assignment and probing (no corpus shuffle to meet them)",
         n_nodes(p, "BroadcastNestedLoopJoin") + n_nodes(p, "BroadcastHashJoin") >= 2),
        ("cell assignment argmax is an aggregate with map-side partial combine",
         "partial_max_by" in p or "partial" in p.lower()),
    ]
    sections.append(("IVF ANN — bounded centroid seeding, broadcast cells, partial argmax", p, checks))
    release_caches()

    # 8. C3 batch nearest-right scan: probes broadcast, map-side partial min
    from bifrost_spark.pipelines.position import nearest_valid_positions

    nv = nearest_valid_positions(events.filter(
        F.col("event_type").isin("insert", "update", "delete")), [2, 1001, 10**9])
    p = formatted(nv)
    checks = [
        ("probe set broadcast (no shuffle of the position stream before agg)",
         "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ("map-side partial aggregation before the final tiny exchange",
         "partial_min" in p or "partial" in p.lower()),
        ("position scan reads only the position column", all(
            ("before" not in ln and "after" not in ln)
            for ln in p.splitlines() if "ReadSchema" in ln)),
    ]
    sections.append(("C3 batch position audit — broadcast probes, partial min", p, checks))

    # 9. doc_pipeline_v2: the composite LLM-data pipeline — feature kernel
    # evaluated ONCE (the md5 Window pins it: predicates can't push below a
    # window, so Catalyst can't inline the Arrow kernel into the gate and
    # re-evaluate it per predicate), text dropped before the window
    # shuffle, and the contamination scrub lands as a BROADCAST anti join
    # (only contaminated ids ever reach the corpus side).
    import __spark_entry__ as entry

    v2 = entry.queries()["doc_pipeline_v2"](spark, "/root/testdata/sf0.001")
    p = formatted(v2)
    checks = [
        ("repetition feature kernel runs exactly once (one ArrowEvalPython node)",
         n_nodes(p, "ArrowEvalPython") == 1),
        ("dedup window shuffle keyed on the md5 hash (text itself dropped)",
         "hashpartitioning(h" in p),
        ("contamination scrub is a broadcast LEFT ANTI join (ids, not docs, move)",
         "BroadcastHashJoin" in p and "LeftAnti" in p),
        ("exactly three scans: feature pass, contamination corpus probe, "
         "benchmark derivation — no extra re-read of the corpus",
         n_nodes(p, "Scan parquet") == 3),
    ]
    sections.append(("doc_pipeline_v2 — single feature eval, narrow window shuffle, broadcast anti scrub", p, checks))

    # 10. dedup_substring: ExactSubstr scrub without a suffix array — the
    # global window count must be a plain linear groupBy on the 8-byte key
    # (map-side combined), the cover join key-equality only (NEVER an
    # all-pairs / nested-loop shape), and only two Arrow kernels run: the
    # window-key pass and the rebuild pass.
    sub = entry.queries()["dedup_substring"](spark, "/root/testdata/sf0.001")
    p = formatted(sub)
    checks = [
        ("no quadratic join anywhere (no cartesian / nested-loop node)",
         "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("duplicated-window count shuffles on the 8-byte window key",
         "hashpartitioning(key" in p),
        ("map-side partial count before the window-key exchange",
         "partial_count" in p),
        ("exactly two DISTINCT Arrow kernels — window-key pass + rebuild "
         "pass — i.e. the generate guard did NOT duplicate the window kernel",
         len(set(re.findall(r"\((\d+)\) ArrowEvalPython", p))) == 2),
    ]
    sections.append(("dedup_substring — linear window count, key-equality cover join", p, checks))

    # 11. doc_pipeline_v3: the COMPLETE pretraining-prep chain (PII redact →
    # blocklist scrub → gates → decontam → dedup → mix → report).  The PII
    # redaction and quality gates must ride scans/projections (regexp
    # expressions, no Python), the boilerplate scrub is ONE Arrow kernel
    # over the corpus (blocklist in the closure — no corpus-side join for
    # it), decontamination is a broadcast LEFT ANTI (ids move, docs don't),
    # the keep-one dedup shuffles on the md5 of the scrubbed text, and the
    # training mix is a scan-stage filter (sha-prefix CASE — adds NO
    # exchange of its own).
    v3 = entry.queries()["doc_pipeline_v3"](spark, "/root/testdata/sf0.001")
    p = formatted(v3)
    checks = [
        ("no quadratic join anywhere (no cartesian / nested-loop node)",
         "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("boilerplate scrub is ONE physical Arrow kernel, materialized once "
         "— every consumer (gate, contamination probe, benchmark grams) "
         "reads the persisted feature frame, so the kernel never re-runs",
         len(set(re.findall(r"\((\d+)\) ArrowEvalPython", p))) == 1
         and p.count("InMemoryTableScan") >= 3),
        ("contamination scrub is a broadcast LEFT ANTI join",
         "BroadcastHashJoin" in p and "LeftAnti" in p),
        ("keep-one dedup window shuffles on the md5 hash partition key",
         "hashpartitioning(md5" in p or "hashpartitioning(_w" in p),
        ("final report aggregate has a map-side partial combine",
         "partial_count" in p or "partial_sum" in p),
    ]
    sections.append(("doc_pipeline_v3 — scan-stage gates, one Arrow scrub, broadcast anti, md5 dedup window", p, checks))

    # 12. pq_topk: the memory-bounded ANN path — codebook seed must be a
    # bounded TakeOrderedAndProject (never a full corpus sort), both the
    # codebook join (encode) and the LUT join (ADC scan) must be BROADCAST
    # (the float corpus never shuffles), and the two aggregates (per-(id,
    # sub) argmin code, per-(query, neighbor) ADC sum) must have map-side
    # partial combines.
    from bifrost_spark.functions.similarity import pq_topk

    pq = pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        dim=64, k=3, m=4, n_codes=8,
    )
    p = formatted(pq)
    checks = [
        ("codebook seed scan is TakeOrderedAndProject (bounded partial top-K)",
         "TakeOrderedAndProject" in p),
        ("no quadratic join (no cartesian / nested-loop node)",
         "CartesianProduct" not in p),
        ("codebook and LUT both arrive by broadcast (float corpus never shuffles to meet them)",
         n_nodes(p, "BroadcastHashJoin") >= 2),
        ("encode argmin and ADC sum both partial-combine map-side",
         "partial_min_by" in p and "partial_sum" in p),
    ]
    sections.append(("pq_topk — bounded codebook seed, broadcast encode/ADC, partial combines", p, checks))

    # 13b. ivfpq_topk: the composition must keep BOTH halves' shapes — no
    # quadratic join, bounded seed scans for centroids AND codebook, and
    # the ADC-over-candidates tail still partial-combines map-side.
    from bifrost_spark.functions.similarity import ivfpq_topk

    ivfpq = ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        dim=64, k=3, n_centroids=8, n_probe=2, m=4, n_codes=8,
    )
    p = formatted(ivfpq)
    checks = [
        ("no quadratic join (no cartesian node)", "CartesianProduct" not in p),
        ("both seed scans bounded (two TakeOrderedAndProject nodes: centroids + codebook)",
         len(set(re.findall(r"\((\d+)\) TakeOrderedAndProject", p))) >= 2),
        ("ADC sum partial-combines map-side", "partial_sum" in p),
        ("cell argmax and encode argmin both aggregate with partial combines",
         "partial_max_by" in p and "partial_min_by" in p),
    ]
    sections.append(("ivfpq_topk — composed IVF pruning + PQ ADC, both halves' shapes preserved", p, checks))

    # ---- write PLANS.md
    out = ["# PLANS — physical-plan audit of the hot paths\n",
           "Generated by tools/plan_audit.py (also a regression gate: each check",
           "below is asserted; the script exits non-zero on failure).\n"]
    for title, plan, checks in sections:
        out.append(f"\n## {title}\n")
        for desc, ok in checks:
            out.append(f"- [{'x' if ok else ' '}] {desc}")
            if not ok:
                failures.append(f"{title}: {desc}")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"PLANS.md written; {len(failures)} failed checks")
    for fl in failures:
        print("FAIL:", fl)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
