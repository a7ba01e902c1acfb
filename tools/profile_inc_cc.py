"""Per-epoch wall timing of the streaming-CC engine, warm.

Mirrors tools/scale_job.py's streaming leg (same warmup discipline)
but runs the CC query alone and wraps ``process_batch`` with a timer,
so the warm per-epoch cost of the shipped engine is attributable
separately from the session-degree leg.

Usage: python tools/profile_inc_cc.py --cpus 32 \
           --input /tmp/gss_scaling/transcripts --files-per-trigger 16

``--demo-locality`` (VERDICT r3 #4 evidence) synthesizes its own
input instead: one bulk epoch that loads a large state (``--demo-base-
convs``), then ``--demo-epochs`` constant-size small batches
(``--demo-convs`` conversations each, fresh conv ids per epoch — the
10^12-turn regime where per-batch arrivals touch a tiny fraction of
all-time state). With the bucketed state layout the per-epoch
``touched`` phase stays FLAT as deltas accumulate because the probe
reads only the batch's bucket set (~touched_buckets x
bucket_rows_target rows), not O(V).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TSCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def build_demo_input(spark, tmp, base_convs, small_convs, epochs):
    """Bulk epoch 0 (big state) + constant small epochs with FRESH
    conv ids each (arrival locality): one file per trigger."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.fixtures import make_transcripts_spark

    src = f"{tmp}/demo_input"
    base = make_transcripts_spark(
        spark, n_convs=base_convs, turns_per_conv=4,
        hot_conv_fraction=0.0, seed=7,
    )
    base.withColumn(
        "conv_id", F.concat(F.lit("b_"), F.col("conv_id"))
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f000")
    for i in range(epochs):
        small = make_transcripts_spark(
            spark, n_convs=small_convs, turns_per_conv=4,
            hot_conv_fraction=0.0, seed=100 + i,
        )
        small.withColumn(
            "conv_id", F.concat(F.lit(f"e{i:03d}_"), F.col("conv_id"))
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i + 1:03d}")
    return src


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--input", default="/tmp/gss_scaling/transcripts")
    ap.add_argument("--files-per-trigger", type=int, default=16)
    ap.add_argument("--demo-locality", action="store_true")
    ap.add_argument("--demo-base-convs", type=int, default=400000)
    ap.add_argument("--demo-convs", type=int, default=200)
    ap.add_argument("--demo-epochs", type=int, default=12)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from gelly_streaming_spark.session import get_spark
    from gelly_streaming_spark.streaming.pipeline import run_streaming_cc

    spark = get_spark(f"profile_inc_cc_{args.cpus}", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    tmp = tempfile.mkdtemp(prefix="gss_prof_inc_")

    if args.demo_locality:
        input_dir = build_demo_input(
            spark, tmp, args.demo_base_convs, args.demo_convs,
            args.demo_epochs,
        )
        files_per_trigger = 1
        warm_glob = f"{input_dir}/f001/part-*.parquet"
    else:
        input_dir = args.input
        files_per_trigger = args.files_per_trigger
        warm_glob = f"{input_dir}/f0/part-*.parquet"

    # warmup: same as scale_job (one part-file, throwaway state)
    warm_file = sorted(glob.glob(warm_glob))[0]
    warm_dir = f"{tmp}/warm_input"
    os.makedirs(warm_dir)
    shutil.copy(warm_file, warm_dir)
    warm_stream = spark.readStream.schema(TSCHEMA).parquet(warm_dir)
    wq, _ = run_streaming_cc(
        warm_stream, f"{tmp}/warm_state", f"{tmp}/warm_ckpt",
        num_shards=args.cpus,
    )
    wq.processAllAvailable()
    wq.stop()

    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(f"{input_dir}/f*")
    )
    t0 = time.perf_counter()
    q, cc = run_streaming_cc(
        stream, f"{tmp}/cc_state", f"{tmp}/cc_ckpt",
        num_shards=args.cpus,
    )
    inner = cc.process_batch
    epochs: list[dict] = []

    def timed(edges, epoch_id):
        t = time.perf_counter()
        inner(edges, epoch_id)
        rec = {"epoch": int(epoch_id),
               "wall_s": round(time.perf_counter() - t, 2),
               "phases": dict(cc.last_phase_times)}
        epochs.append(rec)
        print(json.dumps(rec), flush=True)

    cc.process_batch = timed
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - t0
    print(json.dumps({
        "cpus": args.cpus,
        "files_per_trigger": files_per_trigger,
        "demo_locality": args.demo_locality,
        "cc_only_wall_s": round(wall, 2), "epochs": epochs,
    }), flush=True)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
