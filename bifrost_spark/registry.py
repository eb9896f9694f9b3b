"""Versioned schema registry.

The reference caches one point-in-time schema per table fetched out-of-band
from information_schema, invalidated by DDL / rotate events
(/root/reference/Bristol/mysql/parser.go:342-582,
/root/reference/Bristol/mysql/conn_dump.go:196-203).  That makes DDL a
barrier: events after a DDL decode with the *new* schema.

Here the registry is explicit and versioned: version 0 is the fixed
north-rule payload (repo, path, commit, lang, content); each DDL op produces
version N+1.  ``extra_columns(v)`` lists the DDL-added columns live at
version v with their logical types.  The table stores those columns only as
raw strings in its ``extra`` map, the way the reference carries every row
image by name (/root/reference/plugin/driver/driver.go:29-45), so the
registry is the ONE place that knows a schema version: ``align(df, v)``
types the map's values as version v's columns on read — a column a DDL
adds shows every value its events carried, one it drops disappears, one it
modifies re-casts.  ``align_arrow`` is its twin for raw Arrow batches.

The registry is tiny driver-side state (a handful of versions); it is
serialized into every TargetTable snapshot so a restart resumes with the
correct schema (SURVEY.md §7 module 3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bifrost_spark.ddl import DDLOp, classify_query
from bifrost_spark.schemas import LOGICAL_TYPES, PAYLOAD_COLUMNS


@dataclass(frozen=True)
class SchemaVersion:
    version: int
    # ordered (name, logical_type) for DDL-added columns present at this version
    extras: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    truncated: bool = False  # this version was created by TRUNCATE
    dropped: bool = False    # this version was created by DROP TABLE (cache evicted)
    table_name: str | None = None  # set when a RENAME/CREATE changed the tracked name


class SchemaRegistry:
    def __init__(self, versions: list[SchemaVersion] | None = None) -> None:
        self._versions: list[SchemaVersion] = versions or [SchemaVersion(0)]

    # -- evolution ---------------------------------------------------------
    @property
    def current(self) -> SchemaVersion:
        return self._versions[-1]

    @property
    def current_version(self) -> int:
        return self._versions[-1].version

    def version(self, v: int) -> SchemaVersion:
        return self._versions[v]

    @property
    def table_name(self) -> str | None:
        """Tracked physical table name (RENAME TABLE moves it, like the
        reference moving its schema-cache entry)."""
        for s in reversed(self._versions):
            if s.table_name is not None:
                return s.table_name
        return None

    def apply_ddl(self, op: DDLOp | str) -> SchemaVersion:
        """Apply one DDL op (or raw SQL) → new version. Unknown/no-op DDL
        still bumps the version so event ``schema_version`` stays aligned.

        Table-level ops mirror the reference's schema-cache lifecycle
        (/root/reference/Bristol/mysql/conn_dump.go:196-203):
        - DROP TABLE **evicts** — extras cleared, version marked ``dropped``
          (TargetTable clears its bucket map the way TRUNCATE does);
        - CREATE TABLE **reloads fresh** — extras come from the CREATE's own
          column list (non-base columns), replacing whatever was cached;
        - RENAME TABLE **moves the cache entry** — extras survive untouched,
          only the tracked table name changes.
        """
        if isinstance(op, str):
            op = classify_query(op)
        cur = dict(self.current.extras)
        truncated = False
        dropped = False
        table_name: str | None = None
        ops = op.sections if op.kind == "alter_multi" else (op,)
        if op.kind == "create_table":
            cur = {}
            for col in op.sections:
                if col.column not in PAYLOAD_COLUMNS:
                    cur[col.column] = col.logical_type or "string"
            table_name = op.table_name
            ops = ()
        elif op.kind == "drop_table":
            cur = {}
            dropped = True
            ops = ()
        elif op.kind == "rename_table":
            table_name = op.new_column  # parser stores the target name here
            ops = ()
        for o in ops:
            if o.kind == "add_column":
                if o.column not in PAYLOAD_COLUMNS:
                    cur[o.column] = o.logical_type or "string"
            elif o.kind == "modify_column":
                if o.column in cur:
                    cur[o.column] = o.logical_type or cur[o.column]
            elif o.kind == "change_column":
                if o.column in cur:
                    t = o.logical_type or cur[o.column]
                    del cur[o.column]
                    cur[o.new_column] = t
            elif o.kind == "drop_column":
                cur.pop(o.column, None)
            elif o.kind == "truncate":
                truncated = True
        nv = SchemaVersion(self.current_version + 1, tuple(cur.items()), truncated,
                           dropped, table_name)
        self._versions.append(nv)
        return nv

    # -- DataFrame alignment ------------------------------------------------
    def extra_columns(self, v: int | None = None) -> tuple[tuple[str, str], ...]:
        return (self.current if v is None else self.version(v)).extras

    def align(self, df: DataFrame, v: int | None = None,
              base_cols: list[str] | None = None) -> DataFrame:
        """Project a table frame onto schema version ``v``: ``base_cols``
        (default every column but the ``extra`` map) first, then each extra
        column of ``v`` as ``extra[name]`` cast to its logical type (null
        where a row's map lacks it).  Put ``"extra"`` in ``base_cols`` to
        pass the raw map through.  Pure projection — Catalyst folds it into
        the scan (column pruning)."""
        sv = self.current if v is None else self.version(v)
        base = base_cols or [c for c in df.columns if c != "extra"]
        return df.select(
            *base,
            *[F.col("extra")[name].cast(LOGICAL_TYPES.get(ltype, LOGICAL_TYPES["string"])).alias(name)
              for name, ltype in sv.extras],
        )

    # -- Arrow batch rewrite -------------------------------------------------
    ARROW_TYPES = {
        "string": "string", "int": "int32", "bigint": "int64",
        "double": "float64", "float": "float32", "boolean": "bool",
        "date": "date32", "timestamp": "timestamp[us]",
    }

    def align_arrow(self, batch, v: int | None = None):
        """Rewrite one in-flight ``pyarrow.RecordBatch`` to schema version
        ``v``: null-pad added columns, drop removed ones, cast changed ones —
        the Arrow-side twin of ``align`` for code paths that hold raw Arrow
        batches (mapInArrow decoders, the streaming source's vectorized
        decode) rather than DataFrames.  Mirrors the reference reloading its
        column cache at a DDL barrier and decoding subsequent events with
        the new shape (/root/reference/Bristol/mysql/conn_dump.go:196-203).
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        sv = self.current if v is None else self.version(v)
        extras = dict(sv.extras)
        names = []
        arrays = []
        for name in batch.schema.names:
            if name in PAYLOAD_COLUMNS or name.startswith("_") or name in extras:
                names.append(name)
                arrays.append(batch.column(name))
        out_names = [n for n in names if n not in extras]
        out_arrays = [arrays[names.index(n)] for n in out_names]
        for name, ltype in sv.extras:
            at = pa.type_for_alias(self.ARROW_TYPES.get(ltype.lower().split("(")[0], "string"))
            if name in names:
                out_arrays.append(pc.cast(arrays[names.index(name)], at))
            else:
                out_arrays.append(pa.nulls(batch.num_rows, type=at))
            out_names.append(name)
        return pa.RecordBatch.from_arrays(out_arrays, names=out_names)

    # -- (de)serialization for snapshot manifests ----------------------------
    def to_dict(self) -> dict:
        return {
            "versions": [
                {"version": s.version, "extras": [list(e) for e in s.extras],
                 "truncated": s.truncated, "dropped": s.dropped, "table_name": s.table_name}
                for s in self._versions
            ]
        }

    @classmethod
    def from_dict(cls, d: dict) -> "SchemaRegistry":
        return cls(
            [
                SchemaVersion(s["version"], tuple((n, t) for n, t in s["extras"]),
                              s.get("truncated", False), s.get("dropped", False),
                              s.get("table_name"))
                for s in d["versions"]
            ]
        )
