"""Smoke self-test of the benchmark: every workload at tiny size, untraced and
traced.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that every metric BENCHMARK.json names is printed with its unit and
sample count, that the correctness gate ran and passed, and that the traced
run wrote spans for every measured layer.  4-5 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

METRIC_LINE = re.compile(r"^metric (\S+) = (\S+) (\S+) \(n=(\d+)\)$")
# span names that show each layer was traced
LAYER_SPANS = {
    "session": "setup.spark", "generator": "setup.generate",
    "pipelines.replay": "replay.apply_batch", "operators.lww": "lww.events_to_ops",
    "operators.merge": "merge.apply_ops", "registry": "registry.align",
    "operators.changes": "changes.table_changes", "metafs": "metafs.write_text_atomic",
    "spark executor": "spark.job",
}


def run(workload: str, trace: int) -> tuple[dict, dict, str, dict]:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--tiny"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    printed = {m[1]: (m[3], int(m[4])) for m in map(METRIC_LINE.match, lines) if m}
    tag = f"{workload}-seed3-trace{trace}"
    with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.json")) as f:
        record = json.load(f)
    return last, record, tag, printed


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    last, record, _tag, printed = run(workload, 0)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert last["metrics"][m["name"]]["value"] > 0, m["name"]
        unit, n = printed[m["name"]]
        assert unit == m["unit"] and n >= 1
    gate = record["gate"]
    assert gate["oracle_rows"] > 0 and gate["reads_checked"] > 0 and gate["bad_reads"] == 0
    assert gate["tables"] and all(gate["tables"].values())
    assert record["provenance"]["seed"] == 3 and record["provenance"]["nproc"] >= 1


def test_traced_runs_emit_per_layer_metrics_and_spans():
    seen: set[str] = set()
    for workload in sorted(WORKLOADS):
        last, _record, tag, printed = run(workload, 1)
        assert last["correct"] is True
        for m in BENCH["per_layer"]:
            assert last["metrics"][m["name"]]["unit"] == m["unit"]
            assert printed[m["name"]][0] == m["unit"]
        with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        seen |= {s["name"] for s in spans}
        batches = [s for s in spans if s["name"] == "batch"]
        assert batches and all(s.get("py4j", 0) > 0 for s in batches)
        assert all(s["end"] >= s["start"] for s in spans)
    missing = {layer for layer, name in LAYER_SPANS.items() if name not in seen}
    assert not missing, missing
    assert {"merge.apply_ddl", "lww.resolve_lww"} <= seen
