"""The epoch-state contract shared by every exactly-once writer.

The streaming writers (the upsert sink, the streaming CC, the generic
streaming aggregation) persist each epoch of a table as an
``<table>/epoch=<id>/`` parquet directory, and this module is the only
code that knows that layout:

- ``write_epoch`` is the one write boundary: an overwrite of the
  epoch's directory, so a replayed epoch (at-least-once foreachBatch)
  rewrites the same directory and the write stays idempotent.
- An epoch is committed only when its ``_SUCCESS`` job-commit marker
  exists. A crash mid-write leaves no marker, so that epoch stays
  invisible to every reader and the checkpoint replays it; resume
  never reads partial state.
- Readers take either one committed epoch with an explicit schema
  (``read_epoch``: an epoch with no rows has no data-file footer to
  infer one from) or the union of all committed epochs with their
  ``epoch`` partition column (``read_committed``, ``None`` while no
  epoch has committed).
- ``delete_superseded`` is the one cleanup rule: at the end of epoch
  e, with b the latest committed epoch below e in an anchor table,
  every epoch below b is deleted. The bound is strict: e itself may
  still replay, and its replay reads from b; no epoch before e can
  replay, because foreachBatch starts e only after the checkpoint has
  committed e - 1.

Discovery and deletion go through ``FileSystem.get(path,
hadoopConf)``, which resolves the filesystem from the path's scheme
(``file:/``, ``hdfs:/``, ``s3a:/``, ...) and uses the same credentials
and config as the writes: one listStatus plus one exists per epoch
directory, no data reads. A table's directory and the query's
checkpointLocation must be created and destroyed together, because a
fresh checkpoint restarts epoch ids at 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _epoch_dir(base: str, epoch: int) -> str:
    return f"{base}/epoch={epoch}"


def write_epoch(df: DataFrame, base: str, epoch: int) -> None:
    """Overwrite epoch ``epoch`` of table ``base``; it commits at the
    write's ``_SUCCESS``."""
    df.write.mode("overwrite").parquet(_epoch_dir(base, epoch))


def read_epoch(spark: SparkSession, base: str, epoch: int, schema) -> DataFrame:
    return spark.read.schema(schema).parquet(_epoch_dir(base, epoch))


def read_committed(spark: SparkSession, base: str) -> DataFrame | None:
    """The union of every committed epoch of ``base``, with the
    ``epoch`` partition column; ``None`` before the first commit."""
    dirs = [_epoch_dir(base, e) for e in committed_epochs(spark, base)]
    if not dirs:
        return None
    return spark.read.option("basePath", base).parquet(*dirs)


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


def committed_epochs(
    spark: SparkSession, base: str, below: int | None = None
) -> list[int]:
    """Sorted ids of the committed epochs of ``base`` (those below
    ``below`` when given). ``base`` may be a bare path or any
    Hadoop-supported URI."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return sorted(
        e for fs, path, e in _epoch_dirs(spark, base)
        if (below is None or e < below) and fs.exists(Path(path, "_SUCCESS"))
    )


def delete_superseded(
    spark: SparkSession, anchor: str, epoch: int, tables: list[str]
) -> None:
    """End of epoch ``epoch``: with b the latest committed epoch of
    ``anchor`` below ``epoch``, recursively delete every epoch of each
    of ``tables`` below b, committed or not."""
    kept = committed_epochs(spark, anchor, below=epoch)
    if not kept:
        return
    for base in tables:
        for fs, path, e in _epoch_dirs(spark, base):
            if e < kept[-1]:
                fs.delete(path, True)
