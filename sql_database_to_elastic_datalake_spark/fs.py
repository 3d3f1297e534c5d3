"""Filesystem helpers that work for every Hadoop-resolvable URI scheme.

``os.path.exists`` silently answers ``False`` for ``hdfs://`` / ``s3a://``
URIs — paths that are perfectly valid targets for ``spark.read/write``.
Any "create on first write, merge afterwards" logic keyed on it would
take the first-batch branch on EVERY batch against a remote lake and
overwrite the table each time. These helpers route the question through
the Hadoop ``FileSystem`` resolved FROM the path, so local paths, HDFS
and object stores all answer correctly.
"""

from __future__ import annotations


def _resolve(spark, path: str):
    """(Hadoop ``FileSystem``, Hadoop ``Path``) for ``path``."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return (hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration()),
            hadoop_path)


def _not_found(ex) -> bool:
    return ex.java_exception.getClass().getName() == \
        "java.io.FileNotFoundException"


def path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its scheme resolves to
    (local path -> local FS, ``hdfs://``/``s3a://`` -> that store).

    Mirrors what ``spark.read.parquet(path)`` would consult, which is the
    only existence notion that matters for lake targets.
    """
    fs, hadoop_path = _resolve(spark, path)
    return bool(fs.exists(hadoop_path))


def list_dirs(spark, path: str) -> list[str]:
    """Names of the directories directly under ``path`` (one
    ``listStatus`` on the Hadoop ``FileSystem`` ``path`` resolves to),
    in no particular order; none when ``path`` does not exist."""
    from py4j.protocol import Py4JJavaError

    fs, hadoop_path = _resolve(spark, path)
    try:
        statuses = fs.listStatus(hadoop_path)
    except Py4JJavaError as ex:
        if _not_found(ex):
            return []
        raise
    return [s.getPath().getName() for s in statuses if s.isDirectory()]


def modification_time(spark, path: str) -> int | None:
    """Last-modified time of ``path`` in ms since the epoch, or None
    when it does not exist — one ``getFileStatus`` on the Hadoop
    ``FileSystem`` ``path`` resolves to, so local, ``hdfs://`` and
    ``s3a://`` paths all answer. A store without directory times
    (object stores report 0 for a prefix) answers 0."""
    from py4j.protocol import Py4JJavaError

    fs, hadoop_path = _resolve(spark, path)
    try:
        return int(fs.getFileStatus(hadoop_path).getModificationTime())
    except Py4JJavaError as ex:
        if _not_found(ex):
            return None
        raise
