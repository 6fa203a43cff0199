"""Hadoop FileSystem helpers — scheme-aware filesystem metadata and
small-file IO for driver-side bookkeeping (versioned state tables,
lineage manifests).

On a real cluster, checkpoints/state/manifests live on object stores
(``s3a://``, ``gs://``, ``abfs://``) or HDFS; ``os.*``/``open()``
silently require a driver-local (or NFS) path. Everything here goes
through ``Path.getFileSystem(hadoopConf)`` from the active session,
so the same code runs on ``file:`` in tests and object stores in
production. Only DIMENSION-SIZED data (JSON manifests, directory
listings) flows through these calls — fact-sized data always moves
via DataFrame reads/writes."""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, jvm) for ``path_str`` under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p, _ = hadoop_fs(spark, path)
    fs.mkdirs(p)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> None:
    fs, p, _ = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, recursive)


def read_text(spark: SparkSession, path: str) -> str | None:
    """Full contents of a (small) text file; None when absent."""
    fs, p, jvm = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write-then-rename commit under a SINGLE-WRITER assumption.

    In-flight readers never observe a partial file (the tmp file is
    renamed into place fully written), but replacement is
    delete-then-rename — HDFS rename does not overwrite — so a reader
    racing a REPLACEMENT of an existing manifest can observe a brief
    not-exists window. All callers (ChunkedRunner, BucketedVersionTable)
    are single-writer per path, where that window is unobservable.
    (On S3A the rename is a copy, still write-once-then-visible — the
    manifest is dimension-sized, so the copy is trivial.)"""
    _, p, jvm = hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    # Private FileSystem instance: setWriteChecksum on the
    # Path.getFileSystem() result would mutate the JVM-wide CACHED
    # instance (FileSystem.get cache per scheme/authority/UGI) and
    # permanently disable checksum generation for every other write in
    # the driver process. newInstance() bypasses the cache; we disable
    # checksums only on our copy (no .crc sidecars for these tiny
    # manifests — a stale sidecar after delete+rename replacement can
    # fail later reads with a checksum mismatch) and close it.
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        p.toUri(), spark._jsc.hadoopConfiguration()
    )
    try:
        fs.setWriteChecksum(False)
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(p):
            fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise IOError(f"rename {tmp} -> {p} failed")
    finally:
        fs.close()
