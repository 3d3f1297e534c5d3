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


def path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its scheme resolves to
    (local path -> local FS, ``hdfs://``/``s3a://`` -> that store).

    Mirrors what ``spark.read.parquet(path)`` would consult, which is the
    only existence notion that matters for lake targets.
    """
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hadoop_path))


def modification_time(spark, path: str) -> int | None:
    """Last-modified time of ``path`` in ms since the epoch, or None
    when it does not exist — one ``getFileStatus`` on the Hadoop
    ``FileSystem`` ``path`` resolves to, so local, ``hdfs://`` and
    ``s3a://`` paths all answer. A store without directory times
    (object stores report 0 for a prefix) answers 0."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return int(fs.getFileStatus(hadoop_path).getModificationTime())
    except Py4JJavaError as ex:
        if ex.java_exception.getClass().getName() == \
                "java.io.FileNotFoundException":
            return None
        raise
