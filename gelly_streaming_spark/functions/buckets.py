"""The capped bucket self-join behind every candidate-pair generator.

Co-occurrence edges, token-set Jaccard, MinHash LSH, SimHash and RHP
near-dup all emit the pairs of ids that share a bucket (a token, a
band hash, an hour of one event type, ...), and decontamination joins
on benchmark shingles the same way. A bucket of n rows emits
n·(n−1)/2 pairs, so one hot bucket (a stopword, a boilerplate band) is
the only way these joins go quadratic. The rule, kept here once:

- count each bucket with an aggregate joined back, never a window
  partitioned on the bucket key: the window puts every row of the
  hottest bucket into one straggler task, where the aggregate
  combines map-side;
- drop buckets of more than ``max_n`` rows BELOW the self-join, so the
  fan-out never happens; the count column is ``bucket_n``;
- self-join on the bucket key with ``a.id < b.id``: each unordered
  pair once per shared bucket, never a cross join.

A cap is observable, not silent: ``cap_report`` lists every bucket's
size, the pair volume it would emit and whether the cap drops it. The
DuckDB oracle twins mirror each cap, so hashes match at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_volume(n: str):
    """``n·(n−1)/2``, the pairs a join bucket of ``n`` rows emits, as
    a double. The multiply runs in double: as BIGINT it overflows
    above n ≈ 3.04e9, where Spark wraps silently and DuckDB raises.
    ``queries.SQL_PAIR_VOLUME`` is the DuckDB twin."""
    return F.col(n).cast("double") * (F.col(n) - 1) / 2


def cap_buckets(rows: DataFrame, keys: list[str], max_n: int) -> DataFrame:
    """The rows of ``rows`` whose bucket (the values of ``keys``) holds
    at most ``max_n`` rows; same columns."""
    n = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("bucket_n"))
    return rows.join(n.filter(F.col("bucket_n") <= max_n), keys).select(
        *rows.columns
    )


def bucket_pairs(
    rows: DataFrame, id_col: str, keys: list[str], max_bucket: int | None = None
) -> DataFrame:
    """The self-join of ``rows`` on ``keys`` under aliases ``a`` and
    ``b``, with ``a.<id_col> < b.<id_col>``: one row per pair per
    shared bucket, after ``cap_buckets`` when ``max_bucket`` is given.
    Callers add their own ``distinct`` or count."""
    if max_bucket is not None:
        rows = cap_buckets(rows, keys, max_bucket)
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    a, b = rows.alias("a"), rows.alias("b")
    return a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])


def cap_report(
    rows: DataFrame, keys: list[str], count_col: str, max_n: int
) -> DataFrame:
    """Occupancy/drop report of a bucket cap: (keys…, ``count_col``,
    pairs, dropped), one row per bucket, with its row count, the pair
    volume its join bucket would emit and whether ``max_n`` drops it."""
    n = F.col(count_col)
    return rows.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_col)).select(
        *keys, n, pair_volume(count_col).alias("pairs"), (n > max_n).alias("dropped")
    )
