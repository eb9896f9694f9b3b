"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline metric: end-to-end CDC change-event apply throughput (events/sec)
— generate a deterministic event stream, bootstrap a snapshot, replay it
through LWW + MERGE with manifests (the whole engine) — plus representative
operator queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Run: python bench.py
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
     BENCH_EVENTS (default 1_000_000), BENCH_KEYS, BENCH_CHUNKS.

Scaling evidence (N vs 4N cores) is produced by tools/bench_scaling.py,
which runs the same CDC replay at local[8] and local[32] in fresh processes
and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from bifrost_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "m1_lww_latest_state",
    "m3_append_changelog",
    "a1_flow_counters",
    "f14_template_projection",
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_xx",
    "dedup_substring",
    "sim_topk_cosine",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "text_quality",
    "text_common_ngrams",
    "sample_training_mix",
    "event_sessions",
    "corpus_stats",
    "text_scrub_boilerplate",
    "pii_scrub",
    "doc_pipeline",
    "doc_pipeline_v2",
    "doc_pipeline_v3",
    "f8_fanout",
]
# dedup_simhash is oracle-checked (CORRECTNESS) but not benched: the
# synthetic documents corpus is near-duplicate-saturated, so all-pairs
# output is O(n²)-ish BY CONSTRUCTION of the data (62k pairs at 500 docs),
# which measures the corpus, not the operator.


def run_cdc_replay(spark, n_events: int, n_keys: int, n_chunks: int, workdir: str) -> dict:
    """The headline benchmark: full engine replay, returns events/sec."""
    from bifrost_spark.generator import GeneratorConfig, generate_events, generate_snapshot, write_event_log
    from bifrost_spark.operators.merge import TargetTable
    from bifrost_spark.pipelines.replay import replay_event_log

    cfg = GeneratorConfig(
        n_events=n_events,
        n_keys=n_keys,
        n_repos=max(50, n_keys // 200),
        seed=42,
        snapshot_keys=n_keys // 2,
        ddl=[(n_events // 2, "ALTER TABLE code.repos ADD COLUMN stars INT")],
    )
    shutil.rmtree(workdir, ignore_errors=True)
    log = os.path.join(workdir, "log")
    # generation + snapshot load are setup, not the measured apply path.
    # 1 JIT-warmup replay + BENCH_TRIALS measured, min reported: this host
    # shows ~9% bursty CPU steal with 2-5x wall variance on single shots,
    # so a one-shot number measures the hypervisor, not the engine.
    write_event_log(generate_events(spark, cfg), log, n_chunks=n_chunks)
    snap_df = generate_snapshot(spark, cfg)
    # 3 measured trials by default: JIT keeps improving past the single
    # warmup replay (observed walls 20.6 → 15.2 → 13.8 → 14.1 → 13.6 → 12.8
    # across 6 replays on this host), so min-of-2 under-reports steady state
    # by ~10%.
    trials = int(os.environ.get("BENCH_TRIALS", "3"))
    walls = []
    stage_splits = []
    n_final = None
    for trial in range(trials + 1):
        tbl = os.path.join(workdir, f"tbl{trial}")
        table = TargetTable.create(spark, tbl, n_buckets=int(os.environ.get("BENCH_BUCKETS", "32")))
        table.bootstrap(snap_df)
        t0 = time.time()
        results = replay_event_log(spark, log, table)
        walls.append(time.time() - t0)
        # Per-stage decomposition from the engine's own per-batch metrics, so
        # a future regression names its stage.  On the default ordered path
        # "stats" is EXPECTED to read 0 (the chunk index replaces the
        # per-batch stats agg), so "write" is the whole distributed apply job
        # and "other" is manifest/state bookkeeping + driver time.
        ms = {"stats": 0.0, "write": 0.0}
        for r in results:
            ms["stats"] += r.get("stats_ms", 0.0)
            ms["write"] += r.get("wall_ms", 0.0)
        ms["other"] = walls[-1] * 1000 - sum(ms.values())
        stage_splits.append({k: round(v / 1000, 3) for k, v in ms.items()})
        n_final = table.read().count()
        shutil.rmtree(tbl, ignore_errors=True)
    best = min(range(1, len(walls)), key=lambda i: walls[i])
    wall = walls[best]
    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "wall_sec": wall,
        "walls": [round(w, 2) for w in walls],
        "stage_sec": stage_splits[best],
        "events_per_sec": n_events / wall,
        "n_events": n_events,
        "n_final_rows": n_final,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bifrost-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # 4M events: enough to amortize cold-JVM JIT so events/sec reflects the
    # engine, not first-run codegen compilation.
    n_events = int(os.environ.get("BENCH_EVENTS", "4000000"))
    n_keys = int(os.environ.get("BENCH_KEYS", str(max(n_events // 10, 1000))))
    n_chunks = int(os.environ.get("BENCH_CHUNKS", "8"))
    workdir = (
        "/dev/shm/bifrost_bench_cdc"
        if os.path.isdir("/dev/shm")
        else os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", "bench_cdc")
    )
    t0 = time.time()
    cdc = run_cdc_replay(spark, n_events, n_keys, n_chunks, workdir)
    cdc_harness_sec = time.time() - t0
    # The query entry is the MEASURED apply wall (best trial) — the number
    # events/sec derives from.  Generation, snapshot bootstraps, and the
    # JIT-warmup replay are harness setup, reported separately as
    # cdc_setup_sec so the total reflects engine work, not scaffolding.
    timings["cdc_replay"] = round(cdc["wall_sec"], 3)

    from bifrost_spark.functions.cache import release_caches

    # Fork the Arrow Python workers once, untimed — same policy as the CDC
    # JIT-warmup replay: per-query walls measure the operator at steady
    # state, not the one-time worker/numpy-import spin-up, which would
    # otherwise be charged entirely to whichever pandas-UDF query runs first.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf as _pudf

    def _warm_kernel(s):
        # pay the per-worker imports once, untimed (same deps the minhash /
        # similarity Arrow kernels touch first)
        import numpy as np
        import pandas as pd  # noqa: F401

        return pd.Series(np.asarray(s, dtype="int64"))

    _warm = _pudf(_warm_kernel, "long")

    # The aggregate CONSUMES the UDF column: under a bare .count() Catalyst
    # prunes the unused projection and never forks the Python workers
    # (verified on PySpark 4.1.2).  64 rows per partition keeps every
    # partition non-empty at any SPARK_GRAFT_CPUS.
    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(64 * n_workers, numPartitions=n_workers) \
         .agg(F.sum(_warm("id"))).collect()

    # Same policy as the CDC headline (1 warm + min of trials): the first
    # execution of a query pays one-time Janino codegen compilation of its
    # whole-stage source (≈1-2 s for the k=32 minhash expression trees),
    # which measures the compiler, not the operator.  Caches are released
    # between trials so every trial re-does the full operator work.
    q_trials = int(os.environ.get("BENCH_QUERY_TRIALS", "2"))
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        fn = qs[name]
        walls = []
        for _trial in range(q_trials):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            walls.append(time.time() - t0)
            release_caches()
            _ = n
        timings[name] = round(min(walls), 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cdc_apply_events_per_sec": round(cdc["events_per_sec"], 1),
                "cdc_apply_wall_sec": round(cdc["wall_sec"], 3),
                "cdc_apply_walls": cdc["walls"],
                "cdc_apply_stage_sec": cdc["stage_sec"],
                "cdc_setup_sec": round(cdc_harness_sec - sum(cdc["walls"][1:]), 3),
                "cdc_n_events": cdc["n_events"],
                "cores": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            }
        )
    )


if __name__ == "__main__":
    main()
