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
data reads.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def committed_epochs(spark: SparkSession, base: str) -> list[int]:
    """Sorted ids of ``epoch=<id>`` children of ``base`` that carry a
    ``_SUCCESS`` job-commit marker. ``base`` may be a bare path or any
    Hadoop-supported URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("epoch="):
            mpath = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(mpath):
                out.append(int(name.split("=", 1)[1]))
    return sorted(out)
