"""Filesystem helpers that work on any Hadoop-supported scheme.

The sidecar metadata file must land next to the dataset whether that is
``file:/…`` or ``s3a://…`` — so these go through the JVM Hadoop
FileSystem API instead of Python's ``open``.
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def write_text(spark: SparkSession, path: str, content: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _checksummed(spark: SparkSession, fs) -> bool:
    """Whether ``fs`` keeps client-side ``.crc`` checksum files beside
    its files (Hadoop's local file system does)."""
    return is_instance_of(
        spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"
    )


def write_text_atomic(spark: SparkSession, path: str, content: str) -> None:
    """Write-then-rename so readers never observe a torn file — for
    commit markers (swap manifests) whose PRESENCE means "committed",
    and for the sidecar, which readers load while a verb replaces it: a
    crash or a concurrent read sees the old content or the new, never
    partial JSON.

    The new content goes to ``<path>.tmp`` first. A file system with
    checksum files will not rename over an existing file, so the rename
    goes through its raw file system, which replaces the file in one
    step; both checksum files are dropped first, so none disagrees with
    its file (:func:`read_text` does not use them). Where even that
    rename refuses to overwrite (HDFS), the old file is deleted first;
    in that gap a reader finds no file."""
    tmp = path + ".tmp"
    write_text(spark, tmp, content)
    fs, jpath = _fs_and_path(spark, path)
    if _checksummed(spark, fs):
        raw = fs.getRawFileSystem()
        jtmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
        raw.delete(fs.getChecksumFile(jtmp), False)
        raw.delete(fs.getChecksumFile(jpath), False)
        if raw.rename(jtmp, jpath):
            return
    if not rename(spark, tmp, path):
        delete(spark, path)
        if not rename(spark, tmp, path):
            delete(spark, tmp)
            raise IOError(f"atomic write: could not move {tmp} to {path}")


def read_text(spark: SparkSession, path: str) -> str | None:
    """File contents, or None if the path does not exist.

    On a file system with client-side checksum files (Hadoop's local
    one) the read bypasses them: :func:`write_text_atomic` drops the
    checksum of the file it replaces."""
    fs, jpath = _fs_and_path(spark, path)
    gateway = spark.sparkContext._gateway
    if _checksummed(spark, fs):
        fs = fs.getRawFileSystem()
    try:
        stream = fs.open(jpath)
    except Py4JJavaError as e:
        if is_instance_of(gateway, e.java_exception, "java.io.FileNotFoundException"):
            return None
        raise
    try:
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.delete(jpath, True)


def tree_size(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Total bytes of files under ``path`` matching ``suffix``.

    Snapshot internals (``_snapshots/``: manifests + files retained
    only for time travel) are excluded — physical stats describe the
    LIVE dataset; `vacuum` reporting covers the retained side.
    """
    return sum(
        sz for p, sz in list_files(spark, path, suffix) if "/_snapshots/" not in p
    )


def human_bytes(n: int) -> str:
    """Human-readable size (ref /root/reference/src/cli/info.rs:133-147)."""
    size = float(n)
    for unit in ("B", "KB", "MB", "GB", "TB", "PB"):
        if size < 1024 or unit == "PB":
            return f"{size:.2f} {unit}" if unit != "B" else f"{int(size)} B"
        size /= 1024
    raise AssertionError


def qualify(spark: SparkSession, path: str) -> str:
    """``path`` fully qualified (scheme, absolute), as listings return
    paths, so a relative path compares equal to its listed children."""
    fs, jpath = _fs_and_path(spark, path)
    return fs.makeQualified(jpath).toString()


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, jsrc = _fs_and_path(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(jsrc, jdst))


def create_marker(spark: SparkSession, path: str) -> bool:
    """Atomically create an empty marker file; False if it already
    exists. Backs the append lock (FileSystem.createNewFile is the
    Hadoop-portable create-if-absent primitive)."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.createNewFile(jpath))


def list_files(
    spark: SparkSession, path: str, suffix: str = ".parquet"
) -> list[tuple[str, int]]:
    """(path, bytes) of files under ``path`` matching ``suffix``,
    recursively — the compaction planner's input."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        if suffix is None or p.getName().endswith(suffix):
            out.append((p.toString(), status.getLen()))
    return out


def list_children(spark: SparkSession, path: str) -> list[str]:
    """Immediate children of ``path`` (one listStatus call, NOT
    recursive — sidecar discovery must not walk the data tree)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [s.getPath().toString() for s in fs.listStatus(jpath)]


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.mkdirs(jpath)
