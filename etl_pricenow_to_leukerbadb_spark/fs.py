"""Scheme-agnostic filesystem helpers over the Hadoop FileSystem API.

Why this module exists: sinks and persisted indexes write wherever
``spark.write`` can reach — driver-local disk in tests, HDFS or an
object store (``s3a://``/``gs://``) in production. A driver-local
probe (``os.path.isdir``) is silently ``False`` on any non-local URI,
and ``shutil.move`` lands data under a mangled local path like
``./s3:/bucket/...`` while the job reports success — for a keyed
upsert that means "merge succeeded, real table never updated", the
worst sink failure mode. Every layout decision (existence probe,
staging, crash-safe swap, marker IO) therefore goes through the SAME
filesystem Spark itself resolves for the path, via the JVM's
``org.apache.hadoop.fs.FileSystem``.

These helpers are driver-side metadata operations (open/rename/delete
of a handful of paths per commit) — never per-row, so the Py4J hop is
irrelevant to throughput. Data movement stays in ``spark.read`` /
``df.write``.

Path string helpers (`parent`, `basename`) are pure string ops that
work on both plain paths and URIs — ``os.path`` would mis-split a
``scheme://`` prefix on some inputs and is avoided for consistency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException


def parent(path: str) -> str:
    """Parent of a path or URI (string op; no filesystem access)."""
    p = path.rstrip("/")
    head, _, _ = p.rpartition("/")
    return head


def basename(path: str) -> str:
    """Last component of a path or URI (string op)."""
    p = path.rstrip("/")
    _, _, tail = p.rpartition("/")
    return tail


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` under Spark's Hadoop conf —
    the local FS for plain paths, the scheme's FS for URIs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def fs_is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; no-op when absent."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``. Raises when the filesystem refuses —
    Hadoop signals that with a ``False`` return, not an exception, and
    a silently skipped rename would detach a commit from its data."""
    fs, s = _fs(spark, src)
    jvm = spark._jvm
    d = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(s, d):
        raise RuntimeError(f"rename {src} -> {dst} refused by the filesystem")


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.mkdirs(p)


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text marker (overwrite). Driver-side, via the
    path's own filesystem — ``open()`` would silently create a local
    file for an object-store URI."""
    fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_write_text_exclusive(spark: SparkSession, path: str, text: str) -> None:
    """Create-exclusive text marker: raises ``FileExistsError`` when
    ``path`` already exists (Hadoop ``create(overwrite=false)`` —
    atomic on HDFS and the local FS; object stores degrade to
    check-then-create, still a narrower race than a separate exists
    probe). Used for single-writer claims (``.INGEST_ACTIVE``).

    Collision detection matches the JAVA EXCEPTION CLASS, not the
    message: substring-matching 'exist' would misdiagnose unrelated
    I/O failures ("No lease ... File does not exist", "parent
    directory does not exist") as a live claim and tell the operator
    to delete a marker that was never created."""
    fs, p = _fs(spark, path)
    try:
        out = fs.create(p, False)
    except Exception as e:  # Py4J wraps the Java exception
        je = getattr(e, "java_exception", None)
        names = []
        while je is not None:  # collision may arrive wrapped in an IOE
            names.append(je.getClass().getName())
            je = je.getCause()
        # FileAlreadyExistsException everywhere; HDFS signals a
        # concurrent create race as AlreadyBeingCreatedException
        # (lease held by the winner) — same meaning for a claim
        if any(
            "AlreadyExists" in n or "AlreadyBeingCreated" in n
            for n in names
        ):
            raise FileExistsError(path) from None
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text marker, or None when absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # IOUtils.toByteArray is not universally present; read via the
        # JVM's stream into a reasonable marker-sized buffer loop.
        jvm = spark._jvm
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def fs_mtime(spark: SparkSession, path: str) -> int:
    """Modification time (epoch millis) of ``path`` per its own
    filesystem. Used to order serving-layout generation dirs, whose
    names are deliberately unordered random hex."""
    fs, p = _fs(spark, path)
    return int(fs.getFileStatus(p).getModificationTime())


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of ``path`` (files and directories); [] when the
    path does not exist."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]


def fs_copy(spark: SparkSession, src: str, dst: str) -> None:
    """Recursively copy ``src`` to ``dst`` (Hadoop ``FileUtil.copy``,
    scheme-portable; source is left in place). Used for the small
    index artifacts (meta/codebook/centroids) during a serving-layout
    compaction — byte-identical copies, cheaper and safer than a
    Spark re-encode."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    sp = jvm.org.apache.hadoop.fs.Path(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    sfs = sp.getFileSystem(conf)
    dfs = dp.getFileSystem(conf)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, False, conf):
        raise RuntimeError(f"copy {src} -> {dst} refused by the filesystem")


def try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Spark-side existence probe: the parquet table at ``path``, or
    None when the path is absent or holds no readable parquet (e.g. an
    empty directory). This is THE portable "does the table exist yet"
    check — it answers against the same filesystem the write targets.
    An absent path is answered by the filesystem alone: letting the
    read fail instead costs a failed analysis and logs a
    ``FileStreamSink`` warning with a JVM stack trace."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def parquet_file_count_fs(spark: SparkSession, path: str) -> int:
    """Recursive ``*.parquet`` file count via the path's filesystem
    (the portable twin of ``sinks.layout.parquet_file_count``)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n
