"""A fixed plain-Spark job that times the host rather than the package.

A shared host's speed drifts by tens of percent within minutes (CPU
steal, co-tenants), which moves every wall-clock figure of a run alike.
Each workload runs this job between its timed operations, in the same
session, and reports its throughput per reference-job duration: the
drift then moves numerator and denominator together, while a change to
the package moves only the workload. The job uses no package code: a
codegen'd hash aggregate over a shuffle, collected to Python through
Arrow, the same engine paths the workloads' queries take.
"""

from __future__ import annotations

import statistics
import time

ROWS = 4_000_000
GROUPS = 100_003
# the job's own JIT warm-up, in a session that has run the workload's
# warm-up: later runs are within a few percent of each other
WARM_RUNS = 8


def run_once(spark) -> float:
    """Seconds one run of the job takes; raises if its result is wrong."""
    from pyspark.sql import functions as F

    parts = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    table = (
        spark.range(0, ROWS, numPartitions=parts)
        .select((F.col("id") * 7919 % GROUPS).alias("k"))
        .groupBy("k")
        .count()
        .toArrow()
    )
    secs = time.perf_counter() - t0
    if table.num_rows != GROUPS or sum(table.column("count").to_pylist()) != ROWS:
        raise RuntimeError("reference job returned a wrong result")
    return secs


class Clock:
    """Times the job between consecutive operations. The job is warmed up,
    then timed before the first operation and after each one (the median
    of ``runs`` runs each time), so the host's speed is sampled within
    seconds of the work it scales."""

    def __init__(self, spark, runs: int = 1):
        self.spark, self.runs = spark, runs
        for _ in range(WARM_RUNS):
            run_once(spark)
        self.refs: list[float] = []
        self.tick()

    def tick(self) -> None:
        """Time the job once more, after an operation."""
        self.refs.append(statistics.median(run_once(self.spark) for _ in range(self.runs)))

    def relative(self, secs: float) -> float:
        """``secs`` of the operation that just ended, divided by the mean of
        the timings on either side of it."""
        self.tick()
        return secs / ((self.refs[-2] + self.refs[-1]) / 2)
