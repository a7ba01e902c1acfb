"""One scaling-evidence job run at a fixed parallelism level.

Invoked by tools/scaling_bench.py as a subprocess (fresh JVM per
parallelism level). Prints ONE JSON line:

    {"mode": ..., "cpus": N, "rows": n, "wall_sec": s,
     "rows_per_sec": r, "output_checksum": c}

Modes
-----
- ``streaming``: the north-rule flagship — incremental merge-tree CC +
  session-window degree agg over a pre-generated transcript table,
  replayed as micro-batches from chunked parquet. ``rows`` = turns.
  The checksum covers the final CC state AND the upserted session
  degrees, proving identical exactly-once output rows across
  parallelism levels.
- ``corpus``: the compute-bound document pipeline (fingerprint +
  MinHash-LSH pairs + SimHash over a replicated corpus) — per-row md5
  work dominates, so this leg isolates CPU scaling from the
  micro-batch scheduling latency that dominates the streaming leg at
  sandbox data sizes.

Checksums are order-insensitive but MULTIPLICITY-SENSITIVE:
sum(xxhash64(all columns) mod 2^40) computed engine-side (no driver
collect). A plain xor would be blind to even-count duplicate rows —
exactly the duplicate-on-replay failure this evidence must detect.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def checksum(df: DataFrame) -> int:
    cols = sorted(df.columns)
    h = F.pmod(
        F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(1 << 40)
    )
    # sum in decimal(38,0): a long sum of 2^40-bounded terms overflows
    # ANSI arithmetic past ~2^23 rows; decimal is exact to 10^38 and
    # yields values identical to the historical long sums wherever
    # those didn't overflow
    row = df.select(F.sum(h.cast("decimal(38,0)")).alias("c")).collect()[0]
    return int(row["c"] or 0)


def run_streaming(
    spark, input_dir: str, cpus: int, files_per_trigger: int = 8,
    num_shards: int | None = None,
) -> tuple[int, float, int]:
    from gelly_streaming_spark.streaming.pipeline import (
        run_streaming_cc,
        run_streaming_session_degrees,
    )
    from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

    tschema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    n_turns = spark.read.parquet(f"{input_dir}/f*").count()
    tmp = tempfile.mkdtemp(prefix=f"gss_scale_{cpus}_")
    # Warmup: the metric is SUSTAINED throughput (BASELINE.json) — at
    # the 10^12-turn design point the stream runs for days and
    # cold-start is a 0% term, but at sandbox volume one-time JVM JIT,
    # whole-stage-codegen compilation, and Python/Arrow worker-pool
    # fork-up are ~25 s that land identically on BOTH parallelism
    # levels (profiled: the first CC fold epoch pays +9 s of worker
    # startup alone, the first session trigger ~2x its warm cost) and
    # swamp the efficiency estimate. Run the SAME two queries over one
    # input part-file (~1/32 of the turns) into throwaway state dirs,
    # untimed — the exact analog of run_corpus's warm section.
    import glob as _glob
    import shutil as _shutil

    warm_file = sorted(_glob.glob(f"{input_dir}/f0/part-*.parquet"))[0]
    warm_dir = f"{tmp}/warm_input"
    os.makedirs(warm_dir)
    _shutil.copy(warm_file, warm_dir)  # file source wants a directory
    shards = num_shards or cpus
    warm_stream = spark.readStream.schema(tschema).parquet(warm_dir)
    wq_cc, _ = run_streaming_cc(
        warm_stream, f"{tmp}/warm_cc_state", f"{tmp}/warm_cc_ckpt",
        num_shards=shards,
    )
    warm_sink = IdempotentUpsertSink(
        f"{tmp}/warm_sess", keys=["sess_start", "vertex"]
    )
    wq_sd = run_streaming_session_degrees(
        warm_stream, warm_sink, f"{tmp}/warm_sd_ckpt"
    )
    wq_cc.processAllAvailable()
    wq_sd.processAllAvailable()
    wq_cc.stop()
    wq_sd.stop()
    # files_per_trigger sizes the micro-batches (32 input files:
    # 8 -> 4 batches of ~3.6M turns). The per-batch floor (trigger
    # scheduling, state-store commit, epoch parquet round-trip) is
    # FIXED per batch, so batch volume is the lever that exposes
    # parallel-work scaling — at the 10^12-turn design point batches
    # are arrival-rate-sized and carry orders of magnitude more rows
    # than sandbox files (BASELINE.md floor decomposition). Both
    # parallelism levels use the SAME trigger sizing and input.
    stream = (
        spark.readStream.schema(tschema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(f"{input_dir}/f*")
    )
    t0 = time.perf_counter()
    q_cc, cc = run_streaming_cc(
        stream, f"{tmp}/cc_state", f"{tmp}/cc_ckpt", num_shards=shards
    )
    sink = IdempotentUpsertSink(f"{tmp}/sess_out", keys=["sess_start", "vertex"])
    q_sd = run_streaming_session_degrees(stream, sink, f"{tmp}/sd_ckpt")
    q_cc.processAllAvailable()
    q_sd.processAllAvailable()
    q_cc.stop()
    q_sd.stop()
    wall = time.perf_counter() - t0
    state = cc.current_components(spark)
    upserted = sink.read_upserted(spark)
    chk = checksum(state) ^ checksum(upserted)
    # Delete the run's state/checkpoint/output (~6 GB per 58M-turn
    # run): leaked dirs from repeated runs filled /tmp to >80% and
    # near-full-disk write throttling was measured to swing the
    # 32-core leg 62->98 s across "clean" windows (calibration probes
    # are CPU-only and blind to it).
    _shutil.rmtree(tmp, ignore_errors=True)
    return n_turns, wall, chk


def run_corpus(spark, input_dir: str, cpus: int) -> tuple[int, float, int]:
    """Compute-bound leg: fingerprint + simhash over the replicated
    corpus (per-row md5 work dominates). Input cached and codegen
    warmed on a small slice so the timed section measures parallel
    compute, not JVM cold-start; best of 2 repetitions (the sandbox
    host is timeshared — interference only ever slows a run down, so
    the fastest repetition is the least-contaminated sample)."""
    from gelly_streaming_spark.functions.dedup import simhash
    from gelly_streaming_spark.functions.text import fingerprint

    # 8x overpartitioning smooths straggler tails on a timeshared
    # host (the same reasoning as 2-3x tasks-per-core on a cluster)
    docs = spark.read.parquet(input_dir).repartition(8 * cpus).cache()
    n = docs.count()
    warm = docs.limit(200)
    checksum(fingerprint(warm))
    checksum(simhash(warm))
    best, chk = math.inf, 0
    for _ in range(2):
        t0 = time.perf_counter()
        chk = checksum(fingerprint(docs))
        chk ^= checksum(simhash(docs))
        best = min(best, time.perf_counter() - t0)
    return n, best, chk


# Measured state-store crossover (BASELINE.md round-3 second pass):
# the HDFS-backed heap store wins below ~7M-turn micro-batches (RocksDB
# pays a per-batch open/commit floor: 81.7k vs 47.0k turns/s at 362k
# batches), RocksDB wins above (36.6 s vs 60.4 s at 7.25M batches) and
# is REQUIRED past ~10^7 session rows/batch (heap store OOMs at 16g).
ROCKSDB_CROSSOVER_TURNS_PER_BATCH = 7_000_000

# Measured partition-sizing rule (BASELINE.md round 4): ~0.5M session
# rows per state-store partition. 96 pinned partitions cut the 232M
# 32-core leg 326 -> 279 s (50M sessions/batch) while REGRESSING the
# 58M leg 55.6 -> 73.6 s (12.5M sessions/batch — per-instance RocksDB
# open/commit floors don't amortize); 32 partitions fit 58M. Sessions
# per turn measured at 0.43 (49.8M session rows per 116M-turn batch).
SESSIONS_PER_TURN = 0.43
STATE_ROWS_PER_PARTITION = 500_000


def auto_partitions(est_turns_per_batch: int) -> int:
    """Volume-only partition count (deliberately independent of cpus,
    so N- and 4N-core legs of a scaling pair get IDENTICAL physical
    plans — on a real cluster the state partitioning is fixed at first
    checkpoint and does not change when executors are added)."""
    est_sessions = est_turns_per_batch * SESSIONS_PER_TURN
    return max(16, min(256, round(est_sessions / STATE_ROWS_PER_PARTITION)))


def default_files_per_trigger(input_dir: str) -> int:
    """Half the staged part-files -> exactly 2 micro-batches at any
    staging layout (the documented evidence shape; a fixed default
    silently became 32 floor-bound batches after the r4 64-file
    restage).

    Falls back from the staged ``f*/part-*.parquet`` layout to a
    recursive ``**/*.parquet`` count — an input directory with any
    other layout used to silently yield 1 file/trigger (hundreds of
    floor-bound micro-batches: the exact stale-default trap this
    helper exists to fix, ADVICE r4). Zero parquet files anywhere is
    a loud error, not a silent 1."""
    import glob

    n_files = len(glob.glob(f"{input_dir}/f*/part-*.parquet"))
    if n_files == 0:
        n_files = len(
            glob.glob(f"{input_dir}/**/*.parquet", recursive=True)
        )
        if n_files == 0:
            raise FileNotFoundError(
                f"no parquet files under {input_dir} (neither the "
                "staged f*/part-*.parquet layout nor **/*.parquet) — "
                "cannot derive files_per_trigger; pass "
                "--files-per-trigger explicitly"
            )
        print(
            f"[scale_job] non-staged layout: counted {n_files} parquet "
            f"files via recursive glob under {input_dir}",
            file=sys.stderr,
        )
    return max(1, math.ceil(n_files / 2))


def estimate_turns_per_batch(input_dir: str, files_per_trigger: int) -> int:
    """Estimated rows per micro-batch from the parquet FOOTERS of the
    staged input (no Spark job, no data read): the file source takes
    ``maxFilesPerTrigger`` part-files per trigger, so rows/batch =
    total_rows / ceil(n_files / files_per_trigger)."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{input_dir}/f*/part-*.parquet"))
    if not files:
        return 0
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return total // max(1, math.ceil(len(files) / files_per_trigger))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["streaming", "corpus"], required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input", required=True)
    # Default: half the staged part-files -> exactly 2 micro-batches,
    # the documented evidence shape at EVERY staging layout (the r4
    # 64-file/chunk restage silently turned the old fixed default of 8
    # into 32 floor-bound micro-batches — a stale-default trap).
    ap.add_argument("--files-per-trigger", type=int, default=None)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from gelly_streaming_spark.session import get_spark

    # State store selection (VERDICT r3 #6): SPARK_GRAFT_ROCKSDB=0/1
    # forces a store; UNSET -> choose by the measured crossover from
    # the footer-estimated batch volume, and log the choice in the
    # output JSON so every recorded run documents its configuration.
    if args.files_per_trigger is None and args.mode == "streaming":
        args.files_per_trigger = default_files_per_trigger(args.input)
    env_store = os.environ.get("SPARK_GRAFT_ROCKSDB")
    est_batch = (
        estimate_turns_per_batch(args.input, args.files_per_trigger)
        if args.mode == "streaming"
        else 0
    )
    if env_store is not None:
        rocksdb, store_choice = env_store == "1", "env"
    else:
        rocksdb = est_batch >= ROCKSDB_CROSSOVER_TURNS_PER_BATCH
        store_choice = "auto"
    # Shuffle/state partition count. On a real cluster the number of
    # state-store partitions is a property of the QUERY, fixed at first
    # checkpoint, and does NOT change when executors are added — only
    # task concurrency does. The historical default (= cpus) gave each
    # leg a DIFFERENT physical plan (8 vs 32 store instances) and zero
    # straggler slack (1 task/core, so every skewed task idles a core).
    # SPARK_GRAFT_SHUFFLE_PARTITIONS pins an explicit value; UNSET ->
    # the measured volume rule (auto_partitions), which is
    # cpus-independent so both legs of a pair share one physical plan.
    # The value used is recorded in the output JSON.
    env_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_parts is not None:
        parts = int(env_parts)
    elif args.mode == "streaming":
        parts = auto_partitions(est_batch)
    else:
        parts = args.cpus
    spark = get_spark(f"scale_{args.mode}_{args.cpus}", cpus=args.cpus,
                      shuffle_partitions=parts, rocksdb_state=rocksdb)
    # Contention self-diagnosis (same fixed-work probes as bench.py):
    # the r4 232M streaming pair was first recorded in a contended
    # window (562/809 s legs; a clean window re-measured 309 s at 32
    # cores) with nothing in the artifact to say so. Probes bracket
    # the timed section; either leg inflating marks the run.
    from bench import run_calibration

    calib_pre = run_calibration(spark, cpus=args.cpus)
    if args.mode == "streaming":
        rows, wall, chk = run_streaming(
            spark, args.input, args.cpus, args.files_per_trigger,
            num_shards=parts,
        )
    else:
        rows, wall, chk = run_corpus(spark, args.input, args.cpus)
    calib_post = run_calibration(spark, cpus=args.cpus)
    out = {
        "mode": args.mode,
        "cpus": args.cpus,
        "rows": rows,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall, 1),
        "output_checksum": chk,
        "calibration_pre": calib_pre,
        "calibration_post": calib_post,
        "contended": bool(
            calib_pre["contended"] or calib_post["contended"]
        ),
    }
    if args.mode == "streaming":
        out["state_store"] = "rocksdb" if rocksdb else "hdfs"
        out["store_choice"] = store_choice
        out["shuffle_partitions"] = parts
        out["est_turns_per_batch"] = est_batch
    print(json.dumps(out))


if __name__ == "__main__":
    main()
