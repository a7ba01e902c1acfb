"""Per-epoch wall timing of the streaming-CC engine, warm.

Mirrors tools/scale_job.py's streaming leg (same warmup discipline)
but runs the CC query alone and wraps ``process_batch`` with a timer,
so the warm per-epoch cost of the shipped engine is attributable
separately from the session-degree leg. Each epoch prints one JSON
line with its wall time and ``last_phase_times``; a final line
repeats them with the run's CC-only wall time.

Usage: python tools/profile_inc_cc.py --cpus 32 \
           --input /tmp/gss_scaling/transcripts --files-per-trigger 16
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--input", default="/tmp/gss_scaling/transcripts")
    ap.add_argument("--files-per-trigger", type=int, default=16)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from gelly_streaming_spark.session import get_spark
    from gelly_streaming_spark.streaming.pipeline import run_streaming_cc

    spark = get_spark(f"profile_inc_cc_{args.cpus}", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    tmp = tempfile.mkdtemp(prefix="gss_prof_inc_")

    # warmup: same as scale_job (one part-file, throwaway state)
    warm_file = sorted(glob.glob(f"{args.input}/f0/part-*.parquet"))[0]
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
        .option("maxFilesPerTrigger", args.files_per_trigger)
        .parquet(f"{args.input}/f*")
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
        "files_per_trigger": args.files_per_trigger,
        "cc_only_wall_s": round(wall, 2), "epochs": epochs,
    }), flush=True)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
