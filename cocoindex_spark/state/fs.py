"""Filesystem abstraction for state-store metadata I/O.

``ManagedTable``'s bulk data already flows through Spark's readers and
writers, which speak any Hadoop-compatible scheme. The *metadata* ops
(pointer file read/atomic-swap, version-dir listing, GC deletes) were
plain ``os``/``shutil`` calls — local-only. This module routes them
through a small interface with two implementations:

- ``LocalFS`` — ``os``/``shutil`` (the container / single-node case).
- ``HadoopFS`` — the JVM Hadoop ``FileSystem`` API reached through the
  active SparkSession (public Spark/Hadoop surface), so the same state
  layout works on ``hdfs://``/``s3a://``/``abfss://``. Atomic pointer
  swap relies on atomic rename: true on HDFS/ABFS; on S3A rename is
  copy+delete, so production S3 deployments should point the state
  root at a consistent store (HDFS/ABFS/GCS) or front it with a
  coordination layer — the same caveat every rename-committer carries.
"""

from __future__ import annotations

import os
import shutil


def _local(path: str) -> str:
    """An ``os`` path for a bare path or a ``file://`` URI."""
    return path[len("file://"):] if path.startswith("file://") else path


class LocalFS:
    """``os``/``shutil`` metadata I/O; takes bare paths and ``file://``
    URIs, so metadata lands in the directory Spark writes."""

    def read_text(self, path: str) -> str | None:
        path = _local(path)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()

    def write_atomic(self, path: str, text: str) -> None:
        path = _local(path)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(_local(path))
        except FileNotFoundError:
            return []

    def isdir(self, path: str) -> bool:
        return os.path.isdir(_local(path))

    def rmtree(self, path: str) -> None:
        shutil.rmtree(_local(path), ignore_errors=True)

    def makedirs(self, path: str) -> None:
        os.makedirs(_local(path), exist_ok=True)

    def total_bytes(self, path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(_local(path)):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total


class HadoopFS:
    """Metadata I/O over the JVM Hadoop FileSystem of the active
    SparkSession. Constructed lazily so ManagedTable can be built
    before any session exists."""

    def __init__(self, root_uri: str):
        self._root_uri = root_uri
        self._fs = None
        self._jvm = None

    def _get(self):
        if self._fs is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("HadoopFS needs an active SparkSession")
            self._jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            path = self._jvm.org.apache.hadoop.fs.Path(self._root_uri)
            self._fs = path.getFileSystem(conf)
        return self._fs, self._jvm

    def read_text(self, path: str) -> str | None:
        fs, jvm = self._get()
        # While write_atomic swaps the pointer, ``path`` is briefly gone
        # and ``path.tmp`` holds the complete new text; the second look
        # at ``path`` covers a swap that finishes between the first two.
        for name in (path, path + ".tmp", path):
            p = jvm.org.apache.hadoop.fs.Path(name)
            if fs.exists(p):
                break
        else:
            return None
        # Py4J passes byte[] arguments by value — a Java-side
        # stream.read(buf) fills only the JVM copy, so the bytes must be
        # produced Java-side and returned. IOUtils ships with Hadoop.
        stream = fs.open(p)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def write_atomic(self, path: str, text: str) -> None:
        """Hadoop's public rename does not overwrite, so the swap deletes
        ``path`` before renaming ``path.tmp`` onto it. ``path.tmp`` only
        ever holds a complete text (it is written as ``path.part``
        first), so ``read_text`` can fall back to it in between, and the
        next write finishes a swap that was cut there."""
        fs, jvm = self._get()
        part = jvm.org.apache.hadoop.fs.Path(path + ".part")
        tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        dst = jvm.org.apache.hadoop.fs.Path(path)
        stream = fs.create(part, True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        if fs.exists(tmp):
            if fs.exists(dst):
                fs.delete(tmp, False)  # a write cut before its swap began
            else:
                self._rename(tmp, dst)
        self._rename(part, tmp)
        fs.delete(dst, False)
        self._rename(tmp, dst)

    def _rename(self, src, dst) -> None:
        if not self._get()[0].rename(src, dst):
            raise OSError(f"rename {src} -> {dst} failed")

    def listdir(self, path: str) -> list[str]:
        fs, jvm = self._get()
        p = jvm.org.apache.hadoop.fs.Path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def isdir(self, path: str) -> bool:
        fs, jvm = self._get()
        p = jvm.org.apache.hadoop.fs.Path(path)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def rmtree(self, path: str) -> None:
        fs, jvm = self._get()
        p = jvm.org.apache.hadoop.fs.Path(path)
        if fs.exists(p):
            fs.delete(p, True)

    def makedirs(self, path: str) -> None:
        fs, jvm = self._get()
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path))

    def total_bytes(self, path: str) -> int:
        fs, jvm = self._get()
        p = jvm.org.apache.hadoop.fs.Path(path)
        if not fs.exists(p):
            return 0
        return fs.getContentSummary(p).getLength()


def fs_for(path: str):
    """Pick the implementation from the path scheme: bare paths and
    file:// stay on LocalFS; any other scheme goes through Hadoop."""
    if "://" not in path or path.startswith("file://"):
        return LocalFS()
    return HadoopFS(path)
