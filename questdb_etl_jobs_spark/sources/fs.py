"""Filesystem access through Spark's Hadoop FileSystem layer.

Incremental writers (materialized views, designated-ts upsert) need to
distinguish "target does not exist yet → initialize" from "target exists
but the read failed → raise". Catching the read's exception cannot make
that distinction: a transient storage error, permission failure, or
corrupt footer on an EXISTING store would be misread as first-write and
the history silently overwritten. This probe asks the filesystem
directly — and goes through ``FileSystem.get`` on the session's Hadoop
conf, so the same call works on local paths in tests and on HDFS/object
stores (s3a/gs/abfs) in a real deployment, exactly like Spark's own
writers resolve paths.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Error conditions of a read over a path that does not exist and over
#: a directory holding no data-file footers.
_NO_TABLE_FILES = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem that owns ``path`` (a py4j handle)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists per the Hadoop FileSystem that owns it."""
    return bool(
        hadoop_fs(spark, path).exists(spark._jvm.org.apache.hadoop.fs.Path(path))
    )


def no_table_files(exc: AnalysisException) -> bool:
    """True iff a footer-inferring read failed because there are no
    table files to read: the path is missing, or the directory holds no
    footers (every partition dropped, only markers or the sidecar
    left). A corrupt or unreadable file is a real error, not an empty
    table."""
    return exc.getCondition() in _NO_TABLE_FILES
