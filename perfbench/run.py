"""Benchmark runner for gelly_streaming_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process runs one workload on a fresh
JVM at ``local[nproc]`` (shuffle partitions and CC shards = nproc):

- ``stream_cc_sessions``: the flagship pipeline. Incremental CC
  (``run_streaming_cc``) and session-window degrees
  (``run_streaming_session_degrees`` into ``IdempotentUpsertSink``) read
  one shared file source. A seeded transcript backlog is staged in
  arrival order; the first two files warm both queries up, then files
  are released one at a time, each once both queries have committed
  the previous one (closed loop), until ``--seconds`` have passed and at
  least three files are out.
- ``batch_graph_curation``: passes over eight registry queries
  (``queries.QUERIES``) on seeded tables shaped like the ``sf0.1`` test
  tables, after two untimed warm-up passes, until ``--seconds`` have
  passed and at least two passes are done.

Between timed operations a fixed plain-Spark job runs (``reference.py``):
throughput is reported per duration of that job, so that the shared
host's drifting speed cancels out. Set-up (session start, input
generation and staging, warm-up) is timed as ``setup_s``. After the
timed section every output is checked: batch results against their
DuckDB oracles, the stream's components against batch CC and its
upserted sessions against a batch ``session_window`` count over the
released files, with zero rows dropped as late.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: process start to the end of warm-up;
- ``rows_per_ref``: input rows processed per reference-job duration.
  Stream: the median file's transcript turns / the time until both
  queries committed it, times the fastest reference timing of the run.
  Batch: rows of the three input tables / a typical pass in reference
  units (each pair of queries over the timings on either side of it; the
  sum over pairs of each pair's median);
- ``jvm_peak_rss_mb``: the Spark JVM's VmHWM after the timed section.

``--trace 1`` repeats the timed section with tracing on (a job group per
query, CC phase times captured per epoch, the sink wrapped, state-store
fields read from query progress, stage metrics read from Spark's status
store) and prints the per-layer metrics, including ``trace.overhead_s`` =
traced minus untraced median operation time, and the raw wall-clock
``rows_per_s`` with the reference job's median ``ref.s`` it was divided
by. Metrics of a layer the workload does not run read 0.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Work files live in ``.perfbench_work/`` under the root and are removed
on exit. Without the package next to it the runner exits with code 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unit(name: str) -> str:
    if name == "rows_per_ref":
        return "rows/ref"
    if name.endswith("_per_s"):
        return "1/s"
    for suffix, u in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return u
    return "count"


def start_spark(work: str):
    from gelly_streaming_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # a fixed heap and young generation: the JVM's peak RSS then
            # follows live data, not heap-resizing decisions
            "spark.driver.extraJavaOptions": "-Xms2g -Xmn512m",
            # an idle streaming query looks for new files this often; the
            # default 10 ms keeps two of them busy enough to slow the
            # reference job run between files
            "spark.sql.streaming.pollingDelay": "100ms",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(f"{ROOT}/gelly_streaming_spark/__init__.py"):
        print(f"gelly_streaming_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = f"{ROOT}/.perfbench_work/{args.workload}-{os.getpid()}"
    os.makedirs(f"{work}/tmp")
    # Python workers are started by the JVM and must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM, the launcher's too: temp files in the work dir, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    prepare, run = WORKLOADS[args.workload]
    spark = None
    try:
        # inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(prepare, work, args.seed)
            spark = start_spark(work)
            prepared = pending.result()
        end_to_end, per_layer, attempted, failed = run(spark, prepared, args.seconds, bool(args.trace), T_START)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = per_layer if args.trace else end_to_end
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
