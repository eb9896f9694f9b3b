"""Metadata filesystem abstraction for TargetTable state/commit/lineage.

TargetTable's DATA files are written by Spark and work on any Hadoop
filesystem already; its METADATA (snapshot JSONs, the CURRENT pointer, the
lineage sidecar, bucket-size probes) was plain POSIX I/O in round 1, which
ruled out object-store table roots (ADVICE round 1).  This module routes
those operations through a minimal interface:

- ``LocalMetaFS`` — os/posix (the default for plain paths): ``os.replace``
  gives atomic pointer swings.
- ``HadoopMetaFS`` — the JVM Hadoop FileSystem API via the active
  SparkSession (py4j), so ``hdfs://``, ``s3a://``, ``gs://`` table roots
  work wherever the cluster has the connector jars.  Pointer swings use
  delete+rename: atomic on HDFS (rename contract), best-effort on S3-like
  stores — safe under this table's SINGLE-WRITER commit protocol because
  the CURRENT pointer is the only mutable object and a torn read can only
  observe the previous pointer file or the new one, never a partial table
  (snapshot JSONs are immutable once named).  Iceberg's own S3 commit
  relies on the same single-writer/metadata-swap discipline.

Selection is by scheme: ``metafs_for(spark, path)``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


class LocalMetaFS:
    """POSIX metadata I/O (default)."""

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def append_line(self, path: str, line: str) -> None:
        with open(path, "a") as f:
            f.write(line + "\n")

    def read_lines(self, path: str):
        try:
            with open(path) as f:
                yield from f
        except FileNotFoundError:
            return

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def dir_size(self, path: str) -> int:
        try:
            with os.scandir(path) as it:
                return sum(e.stat().st_size for e in it if e.is_file())
        except FileNotFoundError:
            return 0

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def unlink(self, path: str) -> None:
        os.unlink(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)


class HadoopMetaFS:
    """Hadoop FileSystem metadata I/O (hdfs:// s3a:// gs:// file:// ...).

    Pure control-plane: a handful of small reads/writes per commit, so the
    py4j round-trips are irrelevant to throughput."""

    def __init__(self, spark, root: str):
        self._spark = spark
        self._root = root
        self._jvm = spark._jvm
        self.__fs = None

    @property
    def _fs(self):
        # lazy: resolving the FileSystem needs the scheme's connector jar
        # (e.g. hadoop-aws for s3a://) — defer to first use so constructing
        # a table handle never requires jars the operation might not
        if self.__fs is None:
            juri = self._jvm.java.net.URI(self._root)
            self.__fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
                juri, self._spark._jsc.hadoopConfiguration()
            )
        return self.__fs

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def _write(self, path: str, text: str, overwrite: bool = True, append: bool = False) -> None:
        if append and self._fs.exists(self._p(path)):
            out = self._fs.append(self._p(path))
        else:
            out = self._fs.create(self._p(path), overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + f".tmp{uuid.uuid4().hex[:8]}"
        self._write(tmp, text)
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, False)
        # Hadoop rename reports failure via its RESULT, not an exception; a
        # silently-false rename here would lose the commit (no CURRENT).
        if not self._fs.rename(self._p(tmp), p):
            # last resort: write the target directly (non-atomic but never
            # silent) so the commit survives stores whose rename rejects.
            self._write(path, text)
            if not self._fs.exists(p):
                raise OSError(f"rename and direct write both failed for {path}")

    def append_line(self, path: str, line: str) -> None:
        try:
            self._write(path, line + "\n", append=True)
        except Exception:
            # Object stores without append(): immutable part files instead.
            # Zero-padded nanotime prefix ⇒ name order == append order, so
            # the sorted read below preserves append order.
            part = path + f".part{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"
            self._write(part, line + "\n")

    def read_lines(self, path: str):
        parent = self._p(path).getParent()
        name = self._p(path).getName()
        if self._fs.exists(self._p(path)):
            for ln in self.read_text(path).splitlines():
                yield ln
        if self._fs.exists(parent):
            parts = sorted(
                (st.getPath() for st in self._fs.listStatus(parent)
                 if st.getPath().getName().startswith(name + ".part")),
                key=lambda p: p.getName(),
            )
            for p in parts:
                for ln in self.read_text(p.toString()).splitlines():
                    yield ln

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def listdir(self, path: str) -> list[str]:
        return [st.getPath().getName() for st in self._fs.listStatus(self._p(path))]

    def dir_size(self, path: str) -> int:
        p = self._p(path)
        if not self._fs.exists(p):
            return 0
        return sum(st.getLen() for st in self._fs.listStatus(p) if st.isFile())

    def rmtree(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def unlink(self, path: str) -> None:
        self._fs.delete(self._p(path), False)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))


def metafs_for(spark, path: str):
    """Pick the metadata FS by scheme: plain paths → POSIX; anything with a
    ``scheme://`` → the Hadoop FileSystem for that scheme."""
    if "://" in path:
        return HadoopMetaFS(spark, path)
    return LocalMetaFS()


def load_json(fs, path: str) -> dict:
    return json.loads(fs.read_text(path))


def load_chunk_index(log_path: str, spark=None) -> dict:
    """Read ``<log>/_chunks.json`` (the source-position index
    ``generator.write_chunk_index`` produces); ``{}`` when absent or
    unreadable.  The single loader for the replay engine, GTID resume, and
    the position-validity scan.  Plain paths need no SparkSession;
    ``scheme://`` roots go through the Hadoop FS and return ``{}`` when no
    session is available to reach it."""
    p = os.path.join(log_path, "_chunks.json")
    try:
        if "://" in log_path:
            if spark is None:
                return {}
            return load_json(HadoopMetaFS(spark, log_path), p)
        with open(p) as f:
            return json.load(f)
    except Exception:
        return {}
