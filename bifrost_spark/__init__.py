"""bifrost_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the capabilities of brokercap/Bifrost (a Go
binlog-replication middleware, reference at /root/reference) re-expressed in
idiomatic Spark:

- ordered insert/update/delete/DDL change events over a source-code-repos
  table keyed by (repo, path),
- last-writer-wins resolution by monotonically increasing binlog position
  (file_num, pos, event_id),
- keyed MERGE upserts into a bucket-partitioned, snapshot-versioned,
  copy-on-write lake table (``TargetTable`` — Iceberg-shaped semantics on
  plain parquet, since no lake-format jars ship in this sandbox),
- exactly-once delivery via idempotent commit manifests recorded atomically
  with each table snapshot,
- schema evolution (ADD/MODIFY/DROP COLUMN, TRUNCATE) through a versioned
  schema registry; DDL events are batch barriers,
- one per-batch record per commit (its manifest entry, appended to
  ``_state/lineage.jsonl``), which ``python -m bifrost_spark status`` reads.

The reference has no SQL engine or optimizer (SURVEY.md §2.4); its operators
are dataflow ones. Each module cites the reference file:line it re-expresses.
"""

__version__ = "0.1.0"

from bifrost_spark.session import get_spark  # noqa: F401
