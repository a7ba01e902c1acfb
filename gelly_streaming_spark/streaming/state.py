"""Epoch-state discovery through the Hadoop FileSystem API.

The streaming writers persist each epoch as an ``<table>/epoch=<id>/``
parquet directory and must, on every micro-batch and on resume, find
the COMMITTED epochs: those whose ``_SUCCESS`` job-commit marker
exists. A crash mid-write leaves no marker, and that epoch must stay
invisible or resume would read partial state and break exactly-once.

Discovery goes through ``FileSystem.get(path, hadoopConf)``, which
resolves the right filesystem from the path's scheme (``file:/``,
``hdfs:/``, ``s3a:/``, …) and uses the same credentials/config as the
writes. One listStatus + one exists per epoch dir: O(#epochs) RPCs, no
data reads. Superseded epochs are deleted the same way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _epoch_dirs(spark: SparkSession, base: str):
    """(fs, path, id) of every ``epoch=<id>`` directory under ``base``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [
        (fs, st.getPath(), int(st.getPath().getName().split("=", 1)[1]))
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith("epoch=")
    ]


def committed_epochs(spark: SparkSession, base: str) -> list[int]:
    """Sorted ids of ``epoch=<id>`` children of ``base`` that carry a
    ``_SUCCESS`` job-commit marker. ``base`` may be a bare path or any
    Hadoop-supported URI."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return sorted(
        e for fs, path, e in _epoch_dirs(spark, base)
        if fs.exists(Path(path, "_SUCCESS"))
    )


def delete_epochs_below(spark: SparkSession, base: str, bound: int) -> None:
    """Recursively delete every ``epoch=<id>`` child of ``base`` with
    id < ``bound``, committed or not."""
    for fs, path, e in _epoch_dirs(spark, base):
        if e < bound:
            fs.delete(path, True)
