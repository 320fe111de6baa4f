"""Tiny driver-side filesystem helpers over the Hadoop FileSystem API.

CLI markers (resume-safety contracts), existence probes and the
lineage ledger's part files must work wherever the job's --output
lives — local disk, hdfs://, s3a:// — so they go through Hadoop's
FileSystem, not os.path (the streaming compaction swap in
kgp/streaming.py shares `_fs` for the same reason). All helpers are
driver-only metadata-sized I/O: a few RPCs each, never a Spark job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """Small file (marker- or ledger-part-sized) → bytes."""
    fs, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; FSDataInputStream's
        # read(ByteBuffer) is unsupported on some filesystems
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Small text file (marker-sized) → str."""
    return read_bytes(spark, path).decode("utf-8")


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create-overwrite of a small file (single block; object stores
    publish it atomically on close). Hadoop create() makes parent
    dirs."""
    fs, p = _fs(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Atomic-enough marker write (see write_bytes)."""
    write_bytes(spark, path, content.encode("utf-8"))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Publish ``src`` under ``dst`` (same directory). Atomic on local
    disk and HDFS; a copy on S3A, where ``dst`` still appears only
    once complete. Raises if the FileSystem reports failure."""
    fs, p = _fs(spark, src)
    if not fs.rename(p, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"rename {src} -> {dst} failed")


def local_path(spark: SparkSession, path: str) -> str | None:
    """``path`` on the local filesystem (a plain path or a ``file:``
    URI, resolved the way Hadoop resolves it), or None when it lives
    on another FileSystem."""
    fs, p = _fs(spark, path)
    if fs.getUri().getScheme() != "file":
        return None
    return str(fs.makeQualified(p).toUri().getPath())


def list_names(spark: SparkSession, dir_path: str) -> list[str]:
    """File names directly under ``dir_path``; [] when it does not
    exist (probed first, so a missing dir raises nothing in the
    JVM)."""
    fs, p = _fs(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def resume_marker_guard(
    spark: SparkSession, marker_path: str, content: str
) -> str | None:
    """Refuse-to-resume contract shared by the batch CLIs: if the
    marker exists with DIFFERENT content, return the previous content
    (the caller errors out — a silently stale output with exit code 0
    is the worst outcome); otherwise write/keep the marker and return
    None. Hadoop create() makes parent dirs, so no mkdir is needed."""
    if exists(spark, marker_path):
        prev = read_text(spark, marker_path).strip()
        return prev if prev != content.strip() else None
    write_text(spark, marker_path, content)
    return None
