"""Edge-stream sources.

The reference parses edges out of text files in several ad-hoc
formats (whitespace `src trg` ConnectedComponentsExample.java:109-118,
`%`-comment skip ExactTriangleCount.java:192-203, comma split
Hdrf.java:227-240, timestamped `src trg ts` WindowTriangles.java:
174-196, signed `src trg ±` DegreeDistribution.java:176-190). Here
every format is a declarative parse over a text/csv/parquet scan —
batch (`spark.read`) or streaming (`spark.readStream`) identically —
so column pruning / pushdown reach the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.fixtures import EPOCH

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
EDGE_SCHEMA = "src long, dst long, val long, ts timestamp"


def _finish(parsed: DataFrame) -> DataFrame:
    if "val" not in parsed.columns:
        parsed = parsed.withColumn("val", F.lit(1).cast("long"))
    if "ts" not in parsed.columns:
        # ingestion-style timestamps (the reference's IngestionTime
        # default, SimpleEdgeStream.java:52): arrival time on a stream
        # (which rejects monotonically_increasing_id), monotone
        # synthetic millis in batch
        if parsed.isStreaming:
            ts = F.current_timestamp()
        else:
            ts = F.timestamp_seconds(
                F.lit(EPOCH.timestamp()) + F.monotonically_increasing_id() * 0.001
            )
        parsed = parsed.withColumn("ts", ts)
    return parsed.select("src", "dst", "val", "ts")


def edges_from_text(
    spark: SparkSession,
    path: str,
    sep: str = r"\s+",
    comment_prefix: str | None = "%",
    streaming: bool = False,
) -> DataFrame:
    """Whitespace/comma `src dst [val]` text lines -> edge frame."""
    reader = spark.readStream if streaming else spark.read
    lines = reader.text(path)
    if comment_prefix:
        lines = lines.filter(~F.col("value").startswith(comment_prefix))
    parts = F.split(F.trim("value"), sep)
    parsed = lines.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        # get() is NULL past the end; getItem raises under ANSI
        F.coalesce(F.get(parts, 2).cast("long"), F.lit(1)).alias("val"),
    )
    return _finish(parsed)


def timestamped_edges_from_text(
    spark: SparkSession, path: str, sep: str = r"\s+", streaming: bool = False
) -> DataFrame:
    """`src dst ts_millis` lines (WindowTriangles format)."""
    reader = spark.readStream if streaming else spark.read
    parts = F.split(F.trim("value"), sep)
    return reader.text(path).select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        F.lit(1).cast("long").alias("val"),
        F.timestamp_millis(parts.getItem(2).cast("long")).alias("ts"),
    )


def signed_edges_from_text(
    spark: SparkSession, path: str, sep: str = r"\s+", streaming: bool = False
) -> DataFrame:
    """`src dst ±` lines (DegreeDistribution format) ->
    (src, dst, op, ts)."""
    reader = spark.readStream if streaming else spark.read
    parts = F.split(F.trim("value"), sep)
    df = reader.text(path).select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        parts.getItem(2).alias("op"),
    )
    return df


def transcripts_from_parquet(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """The canonical input: a (directory of) parquet transcript
    file(s). Streaming uses the file source — each new file is a
    micro-batch, the sandbox stand-in for the Iceberg/Kafka feed."""
    if streaming:
        return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    return spark.read.parquet(path)


def adjacency_from_text(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Adjacency-list lines `v,[n1,n2,...]` (vertexpartitioners/
    Fennel.java:98-127) -> (vertex, neighbors array<long>)."""
    reader = spark.readStream if streaming else spark.read
    lines = reader.text(path)
    v = F.regexp_extract("value", r"^\s*\(?(\d+)\s*,", 1).cast("long")
    arr = F.regexp_extract("value", r"\[([^\]]*)\]", 1)
    return lines.select(
        v.alias("vertex"),
        F.transform(
            F.filter(F.split(arr, ","), lambda x: F.trim(x) != ""),
            lambda x: F.trim(x).cast("long"),
        ).alias("neighbors"),
    )
