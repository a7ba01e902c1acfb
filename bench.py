"""Benchmark harness — headline queries + streaming throughput.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default ``session.DEFAULT_CPUS``, the usable core count) and prints
two JSON lines. The last one is the headline (``headline_line``):

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "contended": bool,
     "contended_by": [probe, ...], "sf": ..., "cpus": N,
     "streaming": {"turns": n, "wall_sec": s, "turns_per_sec": r}}

The line before it carries the detail: ``queries_spread`` and the
``calibration`` probes before and after the measured section.

Contention robustness (VERDICT r3 #1): each query runs
``SPARK_GRAFT_BENCH_REPS`` (default 3) times with the BEST kept and
the max-min spread reported, and fixed-work calibration probes (a
single-thread form for per-core slowdown AND an all-cores form for
multi-core squeeze) run before and after the measured section — their
inflation over the quiet-host nominals marks the whole run
``"contended": true`` so a slow run can be attributed to the
timeshared host instead of the code.

Each batch query is forced with a noop-format write (full pipeline
execution, no driver collect). The streaming leg replays a
deterministic transcript table (the BASELINE.json canonical input
shape) through the flagship pipeline — incremental merge-tree CC +
session-window degree agg, checkpointed foreachBatch — in 4
micro-batches and reports sustained turns/sec (the BASELINE.md
metric).

Queries whose exact-oracle formulations are intentionally O(n²)-ish
(token-join jaccard_pairs, brute-force embedding_neardup, dense-graph
global triangle join, and clustering_coeff — at sf0.1 the cooc graph
is ~97% of the complete graph on 1500 users, ~5.6e8 triangles, and
exact per-vertex enumeration is Omega(#triangles): measured 30-40 s
best-of-3 under full materialization; a count() reads ~3 s only
because Catalyst prunes the whole triangle subtree via left-join
elimination) are correctness-gate-only; the bench runs their
scale-path equivalents (minhash_lsh_pairs, ann_lsh, simhash_pairs,
window-bounded aggregations) instead.

Per-layer numbers (Spark stages, streaming-CC phases, state-store
commits) are measured by ``perfbench/run.py --trace 1``, not here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gelly_streaming_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
SKIP_STREAMING = os.environ.get("SPARK_GRAFT_SKIP_STREAMING", "") == "1"
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# Fixed-work calibration probe (contention detector): one SINGLE
# partition of 50M xxhash64 rows — a pure single-thread JVM loop whose
# work is identical at every core count, so its wall time measures raw
# per-core throughput of the host, not the engine. Nominal below is
# the measured steady-state best on this host while quiet
# (0.46-0.60 s across 10 warm reps, best 0.459); a contended window
# (the BENCH_r03 failure mode: every query ~1.5-2x slower including
# checksum-unchanged trivial projections) inflates it the same way it
# inflates the queries.
CALIB_ROWS = 50_000_000
CALIB_NOMINAL_SEC = 0.45
CALIB_CONTENDED_FACTOR = 2.0
# Memory-bandwidth probe nominal: one driver-side numpy streaming sum
# over a 64 MB buffer (~2 GB of traffic), single lane. Quiet-host best
# measured 0.96-1.15 s; a co-tenant saturating the SHARED memory
# controller inflates this while both xxhash forms (ALU-bound, cache-
# resident) read clean — the blind spot found in r4 when the hardware
# ceiling probe swung 1.7 -> 3.2 s across windows the ALU probes
# called quiet.
# Env-overridable (ADVICE r4): the nominal is calibrated to THIS
# host's quiet-window numpy throughput; on another box/numpy build a
# clean run could exceed the 2x factor and be permanently flagged
# contended. Override with SPARK_GRAFT_MEMBW_NOMINAL (seconds) there.
CALIB_MEMBW_NOMINAL_SEC = float(
    os.environ.get("SPARK_GRAFT_MEMBW_NOMINAL", "1.1")
)


def run_calibration(spark) -> dict:
    """Best/worst of 3 warm probes (2 untimed JIT warmups first), in
    three forms. The single-partition probe detects per-core slowdown.
    The parallel probe runs the SAME per-core work on every core at
    once (cpus partitions x CALIB_ROWS rows each): on a quiet host its
    wall time ~= the single probe (each thread does identical work
    concurrently; only memory bandwidth adds), but when another tenant
    holds most cores the parallel probe inflates while the
    single-thread probe stays clean. The memory-bandwidth probe is
    described below. ``contended`` is True when any form exceeds its
    threshold — at that point the query timings of this run measure
    the host, not the code."""

    def timed(n_parts: int) -> float:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, CALIB_ROWS * n_parts, 1, n_parts).selectExpr(
                "bit_xor(xxhash64(id)) as c"
            ).collect()
            reps.append(time.perf_counter() - t0)
        return reps

    # JIT tier-up: first runs measure the compiler, not the host
    for _ in range(2):
        spark.range(0, CALIB_ROWS, 1, 1).selectExpr(
            "bit_xor(xxhash64(id)) as c"
        ).collect()
    single = timed(1)
    par = timed(CPUS)
    s_best, p_best = min(single), min(par)

    # Third form: driver-side memory-BANDWIDTH probe (single lane).
    # Both xxhash forms are ALU-bound and cache-resident, so a
    # co-tenant hammering the shared memory controller leaves them
    # clean while every scan/shuffle/state stage crawls; this form
    # reads 2 GB through a 64 MB buffer and catches exactly that.
    import numpy as np

    buf = np.empty(64_000_000, dtype=np.uint8)
    buf[:] = 1
    mem_reps = []
    int(buf.sum())  # warm: page-in + allocator
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(30):
            int(buf.sum())
        mem_reps.append(time.perf_counter() - t0)
    m_best = min(mem_reps)

    # which threshold(s) tripped, recorded in the artifact so a
    # contended=true flag is attributable (ADVICE r4)
    tripped = []
    if s_best > CALIB_NOMINAL_SEC * CALIB_CONTENDED_FACTOR:
        tripped.append("single_thread")
    # quiet-host parallel/single floor measured at ~1.7x (SMT + memory
    # bandwidth at 32 threads); 2.5x leaves headroom above it while
    # still catching a multi-core squeeze
    if p_best > max(s_best, CALIB_NOMINAL_SEC) * 2.5:
        tripped.append("parallel")
    if m_best > CALIB_MEMBW_NOMINAL_SEC * CALIB_CONTENDED_FACTOR:
        tripped.append("membw")
    return {
        "probe_rows": CALIB_ROWS,
        "probe_sec_best": round(s_best, 3),
        "probe_sec_worst": round(max(single), 3),
        "parallel_sec_best": round(p_best, 3),
        "parallel_sec_worst": round(max(par), 3),
        "membw_sec_best": round(m_best, 3),
        "membw_sec_worst": round(max(mem_reps), 3),
        "nominal_sec": CALIB_NOMINAL_SEC,
        "membw_nominal_sec": CALIB_MEMBW_NOMINAL_SEC,
        "contended": bool(tripped),
        "contended_by": tripped,
    }

HEADLINE = [
    # graph operators / algorithms
    "connected_components_scalable",
    "windowed_degree",
    "sessionize",
    "session_stats",
    "degree_distribution",
    "degree",
    "distinct_edges",
    "neighborhood",
    "latest_event",
    "event_transitions",
    "sssp",
    "community_lpa",
    "pagerank",
    # text / dedup / similarity (training-data ops)
    "token_count",
    "quality",
    "repetition",
    "pii_stats",
    "fingerprint",
    "dedup_exact",
    "minhash_lsh_pairs",
    "dedup_groups",
    "clustering_coeff_estimate",
    "contamination",
    "stratified_sample",
    "embedding_dedup_groups",
    "pack_sequences",
    "corpus_report",
    "vocab_topk",
    # the most expensive r5 composite (minhash+LSH+CC+split); its twin
    # split_assign shares the identical pipeline minus the final agg
    "split_stats",
    "simhash",
    "simhash_pairs",
    "knn_bruteforce",
    "ann_lsh",
    "media_metadata",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_batch(spark) -> tuple[dict[str, float], dict[str, float]]:
    from gelly_streaming_spark.queries import QUERIES

    # warm the JVM (codegen, parquet footer reads) so the first timed
    # query doesn't absorb cold-start
    spark.read.parquet(f"{SF_DIR}/events.parquet").limit(1000).groupBy(
        "event_type"
    ).count().write.format("noop").mode("overwrite").save()
    # ...and the Arrow python workers: spawning N worker processes +
    # importing pandas/numpy in each costs ~10 s at 32 cores and lands
    # entirely on the FIRST grouped-map query if not amortized here
    # (one-time per-executor cost on a real cluster)
    import pandas as _pd

    def _noop(key, pdf: _pd.DataFrame) -> _pd.DataFrame:
        _pd.factorize(pdf["id"].to_numpy())
        return pdf

    from pyspark.sql import functions as _F

    spark.range(10000).repartition(CPUS).withColumn(
        "g", _F.pmod("id", _F.lit(CPUS))
    ).groupBy("g").applyInPandas(
        lambda key, pdf: _noop(key, pdf[["id"]]), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # best-of-REPS per query, spread kept: the host is timeshared and
    # interference only ever SLOWS a run, so the fastest repetition is
    # the least-contaminated sample (contended windows measured up to
    # 10x — BENCH_r03 inflated EVERY query ~1.5-2x, VERDICT r3 #1).
    # The per-query max-min spread makes residual contamination
    # visible instead of silently shaping the headline number.
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        fn, _ = QUERIES[name]
        reps = []
        for _ in range(BENCH_REPS):
            t0 = time.perf_counter()
            force(fn(spark, SF_DIR))
            reps.append(time.perf_counter() - t0)
        times[name] = round(min(reps), 3)
        spread[name] = round(max(reps) - min(reps), 3)
    return times, spread


def run_streaming(spark) -> dict:
    """Flagship streaming pipeline throughput (turns/sec).

    ~1.45M turns in 4 micro-batches (25k convs x 40 turns, with the
    generator's 5% hot conversations at 10x turns => 1.45M rows,
    ~362k/batch): the r2 bench ran 87k turns and the number was
    floor-dominated (trigger scheduling + state commit ≈ the whole
    wall clock), producing pure noise round-over-round (VERDICT r2
    #8). At ~362k turns/batch the per-batch parallel work dominates
    the fixed floor, so the turns/s figure tracks the engine, not the
    scheduler. Input is generated Spark-side (vectorized,
    hash-deterministic) — the pandas generator cannot produce this
    volume in reasonable time."""
    from pyspark.sql import functions as _F

    from gelly_streaming_spark.fixtures import make_transcripts_spark
    from gelly_streaming_spark.streaming.pipeline import (
        run_streaming_cc,
        run_streaming_session_degrees,
    )
    from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

    tmp = tempfile.mkdtemp(prefix="gss_bench_")
    tschema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    n_chunks = 4
    big = make_transcripts_spark(
        spark, n_convs=25000, turns_per_conv=40, seed=11
    ).withColumn("chunk", _F.pmod(_F.xxhash64("conv_id"), _F.lit(n_chunks)))
    src = f"{tmp}/src"
    staged = f"{tmp}/_staged"
    big.write.mode("overwrite").partitionBy("chunk").parquet(staged)
    # iterate the chunk dirs actually written (an empty xxhash64-pmod
    # residue class writes no dir; ADVICE r3: assuming all n_chunks
    # exist would abort on AnalysisException)
    import glob as _glob

    chunk_dirs = sorted(_glob.glob(f"{staged}/chunk=*"))
    for i, d in enumerate(chunk_dirs):
        spark.read.parquet(d).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    n_turns = spark.read.parquet(f"{src}/f*").count()
    stream = (
        spark.readStream.schema(tschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    t0 = time.perf_counter()
    q_cc, cc = run_streaming_cc(
        stream, f"{tmp}/cc_state", f"{tmp}/cc_ckpt", num_shards=CPUS,
    )
    sink = IdempotentUpsertSink(
        f"{tmp}/sess_out", keys=["sess_start", "vertex"]
    )
    q_sd = run_streaming_session_degrees(stream, sink, f"{tmp}/sd_ckpt")
    q_cc.processAllAvailable()
    q_sd.processAllAvailable()
    q_cc.stop()
    q_sd.stop()
    wall = time.perf_counter() - t0
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "turns": n_turns,
        "wall_sec": round(wall, 3),
        "turns_per_sec": round(n_turns / wall, 1),
    }


def headline_line(
    times: dict[str, float],
    calib_pre: dict,
    calib_post: dict,
    sf,
    cpus: int,
    streaming: dict | None,
) -> str:
    """The final stdout line: the headline total, the best time per
    query, the contention verdict, and streaming turns/s. Spreads and
    the calibration probes go on the detail line before it, which
    keeps this one short enough to survive a 2,000-character tail
    capture of stdout."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "contended": calib_pre["contended"] or calib_post["contended"],
        "contended_by": sorted(
            set(calib_pre["contended_by"]) | set(calib_post["contended_by"])
        ),
        "sf": sf,
        "cpus": cpus,
    }
    if streaming is not None:
        out["streaming"] = streaming
    return json.dumps(out)


def main() -> None:
    from gelly_streaming_spark.session import get_spark

    # State store is volume-dependent (measured A/B, best-of-2 at 32
    # cores): at this bench's 362k-turn micro-batches the default
    # HDFS-backed store wins (81.7k vs 47.0k turns/s — RocksDB pays a
    # per-batch open/commit floor), while at >= 7.25M-turn batches
    # RocksDB wins (36.6 s vs 60.4 s at 14.5M turns) and past ~10^7
    # session rows/batch it is REQUIRED (heap-resident HDFS store
    # OOMs) — see BASELINE.md round-3 second pass. The bench tracks
    # the small-batch regime, so it keeps the default store.
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    calib_pre = run_calibration(spark)
    times, spread = run_batch(spark)
    streaming = None if SKIP_STREAMING else run_streaming(spark)
    calib_post = run_calibration(spark)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    print(json.dumps({
        "queries_spread": spread,
        "calibration": {"pre": calib_pre, "post": calib_post},
    }))
    print(headline_line(times, calib_pre, calib_post, sf, CPUS, streaming))


if __name__ == "__main__":
    main()
