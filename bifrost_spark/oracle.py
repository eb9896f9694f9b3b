"""Sequential-apply oracle — the correctness reference for replay tests.

A deliberately naive, single-threaded, event-at-a-time apply of the change
log onto a dict, mirroring how the reference's end-to-end harness checks
field-by-field against a live sink
(/root/reference/Bristol/test/MySQL_Filed_DataCheck.go).  The engine's
distributed LWW+MERGE result must match this byte-for-byte: per (repo, path)
the full payload and, per the north rule, sha256(content) equality.

Driver-side pandas on purpose — it is the TEST oracle, never the engine.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from bifrost_spark.registry import SchemaRegistry


def sequential_apply(events: pd.DataFrame, snapshot: pd.DataFrame | None = None) -> pd.DataFrame:
    """Replay events (any order given; sorted by event_id here) onto the
    snapshot; returns the expected final state sorted by (repo, path)."""
    registry = SchemaRegistry()
    state: dict[tuple[str, str], dict] = {}
    if snapshot is not None:
        for r in snapshot.to_dict("records"):
            state[(r["repo"], r["path"])] = {
                "commit": r["commit"], "lang": r["lang"], "content": r["content"],
                "last_event_id": int(r.get("last_event_id", 0)), "extra": {},
            }

    for r in events.sort_values("event_id").to_dict("records"):
        et = r["event_type"]
        if et == "ddl":
            v = registry.apply_ddl(r["query"])
            if v.truncated or v.dropped:
                # MySQL semantics: a dropped table's rows are gone too
                state.clear()
            continue
        if et not in ("insert", "update", "delete"):
            continue
        before, after = r.get("before"), r.get("after")
        if et == "delete":
            state.pop((before["repo"], before["path"]), None)
            continue
        if et == "update" and before is not None and (
            before["repo"] != after["repo"] or before["path"] != after["path"]
        ):
            state.pop((before["repo"], before["path"]), None)
        state[(after["repo"], after["path"])] = {
            "commit": after["commit"], "lang": after["lang"], "content": after["content"],
            "last_event_id": int(r["event_id"]),
            "extra": dict(after.get("extra") or {}),
        }

    extras = registry.extra_columns()
    rows = []
    for (repo, path), v in state.items():
        row = {
            "repo": repo, "path": path, "commit": v["commit"], "lang": v["lang"],
            "content": v["content"], "last_event_id": v["last_event_id"],
        }
        for name, ltype in extras:
            raw = v["extra"].get(name)
            if raw is None:
                row[name] = None
            elif ltype in ("int", "bigint"):
                row[name] = int(raw)
            elif ltype == "double":
                row[name] = float(raw)
            elif ltype == "boolean":
                row[name] = raw.lower() in ("1", "true")
            else:
                row[name] = raw
        rows.append(row)
    cols = ["repo", "path", "commit", "lang", "content", "last_event_id", *[n for n, _ in extras]]
    out = pd.DataFrame(rows, columns=cols)
    # Pin dtypes to what Spark's toPandas emits so frame-level .equals()
    # holds even when the final state is empty (an all-deletes stream left
    # every column at object dtype and failed the strict compare —
    # round-2 suite red, see tests/test_property_e2e.py).
    out["last_event_id"] = out["last_event_id"].astype("int64")
    return out.sort_values(["repo", "path"]).reset_index(drop=True)


def content_sha_map(df: pd.DataFrame) -> dict[tuple[str, str], str]:
    """(repo, path) → sha256(content): the north-rule invariant."""
    return {
        (r["repo"], r["path"]): hashlib.sha256((r["content"] or "").encode()).hexdigest()
        for r in df.to_dict("records")
    }
