"""The two benchmark workloads.

Both return ``(end_to_end, per_layer, attempted, failed)``; every
timing is taken around calls into the package's public entry points.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from datetime import datetime

from perfbench import checks, inputs, reference, spark_stats

# Registry queries of the batch workload and the layer each one lands in.
BATCH_QUERIES = [
    "connected_components_scalable",  # operators.sharded_fold + plans.resolve_partials
    "sliding_degree",  # operators.slice, overlapping windows
    "slice_reduce",  # operators.slice
    "token_count",  # functions.text
    "dedup_exact",  # functions.dedup
    "simhash",  # functions.dedup, 60-bit fingerprints
    "stratified_sample",  # functions.curation
    "media_metadata",  # functions.multimodal
]
# the sf0.1 test tables' sizes: large enough that executor work, not
# query planning, takes most of a query's time
TABLE_ROWS = {"n_events": 100_000, "n_docs": 5_000, "n_vecs": 2_000}
# Planning and scheduling dominate these queries; the first pass pays for
# Python worker start-up and code generation, the second for most of the JIT
# (it keeps shaving a few percent per pass for about ten passes).
BATCH_WARM_PASSES = 2
# Timed passes: as many as fit in --seconds, but never fewer than this, so a
# slow host does not change which passes of the JIT's slow settling the
# median is taken over.
BATCH_MIN_PASSES = 2

STREAM_CONVS = 2000
STREAM_FILES = 20
STREAM_WARM_FILES = 2  # epoch 0 writes the base, epoch 1 is the first incremental epoch
# From file 13 on the files hold more and more of the long hot
# conversations' tails, up to hours of event time each; the CC mapping fold
# takes minutes on the last of them. Files 2-12 are alike (about 650
# conversations in 5 minutes of event time), and only they are timed.
STREAM_LAST_FILE = 13
STREAM_MIN_FILES = 3  # timed files, however slow the host
TSCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
CC_PHASES = ["fold", "bucketset", "touched", "resolve", "mapfold", "delta", "write"]
SESSION_GAP = "5 minutes"


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f} {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def stream_metric_names() -> list[str]:
    return (
        [f"cc.{p}_s" for p in CC_PHASES]
        + ["cc.add_batch_s", "cc.epoch_s", "sessions.epoch_s", "sink.write_s"]
        + ["sessions.state_commit_ms", "sessions.state_rows_updated", "sessions.state_memory_mb"]
        + ["sessions.rows_dropped_late", "stream.input_rows_per_epoch"]
    )


def batch_metric_names() -> list[str]:
    return [f"q.{q}.{m}" for q in BATCH_QUERIES for m in ("s", "cpu_s", "shuffle_write_mb")]


def _spark_totals(spark, after_stage: int, groups: set[str] | None, per: int) -> dict[str, float]:
    tot = spark_stats.stage_totals(spark, groups=groups, after_stage=after_stage)
    agg = {k: sum(g[k] for g in tot.values()) for k in ("stages", "tasks", "spill_mb", "run_s")}
    return {
        "spark.stages": agg["stages"] / per,
        "spark.tasks": agg["tasks"] / per,
        "spark.spill_mb": agg["spill_mb"] / per,
        "spark.executor_run_s": agg["run_s"] / per,
    }


# ---------------------------------------------------------------------------
# batch_graph_curation
# ---------------------------------------------------------------------------


def _batch_pass(spark, data_dir: str, clock: reference.Clock | None, group: bool):
    """One pass over BATCH_QUERIES; each result is collected into a local
    Arrow table inside its timing. With a ``clock``, the reference job runs
    after every second query; with ``group``, each query runs in a job
    group of its own. Returns (seconds per query, reference units per pair
    of queries, results per query); a query that raised maps to its
    exception."""
    from gelly_streaming_spark.queries import QUERIES

    sc = spark.sparkContext
    secs, rel, results = {}, {}, {}
    for i, name in enumerate(BATCH_QUERIES):
        if group:
            sc.setJobGroup(f"q.{name}", name)
        t0 = time.perf_counter()
        try:
            results[name] = QUERIES[name][0](spark, data_dir).toArrow()
        except Exception as e:  # a failed query is counted, not fatal
            results[name] = e
        secs[name] = time.perf_counter() - t0
        if clock is not None and (i % 2 or i == len(BATCH_QUERIES) - 1):
            if group:  # the reference job belongs to no query
                sc.setLocalProperty("spark.jobGroup.id", None)
            rel[i // 2] = clock.relative(sum(secs[q] for q in BATCH_QUERIES[i - i % 2 : i + 1]))
    if group:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return secs, rel, results


def _batch_window(spark, data_dir: str, seconds: float, clock: reference.Clock, group: bool):
    """Passes until ``seconds`` have elapsed (at least BATCH_MIN_PASSES).
    Returns (seconds per query, reference units per pair of queries,
    digests) per pass."""
    passes = []
    start = time.perf_counter()
    while len(passes) < BATCH_MIN_PASSES or time.perf_counter() - start < seconds:
        secs, rel, results = _batch_pass(spark, data_dir, clock, group)
        passes.append((secs, rel, {n: _result_digest(r) for n, r in results.items()}))
    return passes


def _result_digest(r):
    return r if isinstance(r, Exception) else checks.arrow_digest(r)


def prepare_batch(work: str, seed: int):
    """Write the input tables and compute each query's expected digest with
    its DuckDB oracle, on one thread, while the JVM starts."""
    import duckdb

    from gelly_streaming_spark.queries import QUERIES

    data_dir = f"{work}/data"
    table_rows = inputs.write_tables(data_dir, seed, **TABLE_ROWS)
    con = duckdb.connect(config={"threads": 1})
    for t in table_rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {q: checks.duckdb_digest(con, QUERIES[q][1]) for q in BATCH_QUERIES}
    con.close()
    return data_dir, table_rows, expected


def run_batch(spark, prepared, seconds: float, trace: bool, t_start: float):
    data_dir, table_rows, expected = prepared
    log("spark up")
    for _ in range(BATCH_WARM_PASSES):  # JIT, codegen, Python workers
        _batch_pass(spark, data_dir, None, group=True)
    clock = reference.Clock(spark)
    setup_s = time.perf_counter() - t_start
    log(f"setup {setup_s:.2f} s")
    passes = _batch_window(spark, data_dir, seconds, clock, group=False)
    log("pass walls " + " ".join(f"{sum(p[0].values()):.2f}" for p in passes))
    log("pass refs " + " ".join(f"{sum(p[1].values()):.2f}" for p in passes))
    rss = spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark))
    per_layer, traced = {}, []
    if trace:
        first = spark_stats.last_stage_id(spark)
        traced = _batch_window(spark, data_dir, seconds, clock, group=True)
        groups = spark_stats.stage_totals(spark, groups={f"q.{q}" for q in BATCH_QUERIES}, after_stage=first)
        n = len(traced)
        for q in BATCH_QUERIES:
            g = groups.get(f"q.{q}", {})
            per_layer[f"q.{q}.s"] = _median([p[0][q] for p in traced])
            per_layer[f"q.{q}.cpu_s"] = g.get("cpu_s", 0.0) / n
            per_layer[f"q.{q}.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0) / n
        per_layer.update(_spark_totals(spark, first, set(groups), n))
        per_layer["trace.overhead_s"] = _median([sum(p[0].values()) for p in traced]) - _median(
            [sum(p[0].values()) for p in passes]
        )
        per_layer.update({m: 0.0 for m in stream_metric_names()})

    # output checks, outside every timing: each result against its DuckDB oracle
    attempted = failed = 0
    for _, _, digests in passes + traced:
        for q, d in digests.items():
            attempted += 1
            if d != expected[q]:
                failed += 1
                log(f"check failed: {q}: {d!r} != {expected[q]!r}")

    # a typical pass: each query at its median over the passes
    rows = sum(table_rows.values())
    if trace:
        per_layer["rows_per_s"] = rows / sum(_median([p[0][q] for p in passes]) for q in BATCH_QUERIES)
        per_layer["ref.s"] = _median(clock.refs)
    end_to_end = {
        "setup_s": setup_s,
        "rows_per_ref": rows / sum(_median([p[1][k] for p in passes]) for k in passes[0][1]),
        "jvm_peak_rss_mb": rss,
    }
    return end_to_end, per_layer, attempted, failed


# ---------------------------------------------------------------------------
# stream_cc_sessions
# ---------------------------------------------------------------------------


class _Stream:
    """One pair of flagship queries over a file source that starts empty;
    files are released into it one at a time.

    With ``trace``, the CC phase times of each epoch are captured and the
    sink is wrapped where it is passed in, to time ``write_batch``; both
    record only while ``tracing`` is set. The source is empty until the
    first release, so no epoch can start before the capture is in place.
    """

    def __init__(self, spark, root: str, cpus: int, trace: bool):
        from gelly_streaming_spark.streaming.pipeline import (
            run_streaming_cc,
            run_streaming_session_degrees,
        )
        from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

        self.spark, self.released, self.tracing = spark, [], False
        self.phases: dict[int, dict[str, float]] = {}
        self.sink_secs: dict[int, float] = {}
        self.src = f"{root}/src"
        os.makedirs(self.src)
        stream = spark.readStream.schema(TSCHEMA).option("maxFilesPerTrigger", 1).parquet(self.src)
        self.sink = IdempotentUpsertSink(f"{root}/sessions", keys=["sess_start", "vertex"])
        self.q_cc, self.cc = run_streaming_cc(stream, f"{root}/cc_state", f"{root}/cc_ckpt", num_shards=cpus)
        target = self.sink
        if trace:
            process = self.cc.process_batch

            def captured(edges, epoch_id):
                process(edges, epoch_id)
                if self.tracing:
                    self.phases[epoch_id] = dict(self.cc.last_phase_times)

            def timed_write(df, epoch_id):
                t0 = time.perf_counter()
                self.sink.write_batch(df, epoch_id)
                if self.tracing:
                    self.sink_secs[epoch_id] = time.perf_counter() - t0

            self.cc.process_batch = captured
            target = timed_write
        self.q_sd = run_streaming_session_degrees(stream, target, f"{root}/sd_ckpt")

    def release(self, path: str) -> float:
        """Move the next file into the source; wait until both queries
        have committed it. Returns the seconds that took."""
        k = len(self.released)
        dst = f"{self.src}/f{k:04d}.parquet"
        shutil.copyfile(path, f"{self.src}/.{k:04d}.tmp")
        t0 = time.perf_counter()
        os.rename(f"{self.src}/.{k:04d}.tmp", dst)
        self.q_cc.processAllAvailable()
        self.q_sd.processAllAvailable()
        self.released.append(path)
        return time.perf_counter() - t0

    def stop(self) -> None:
        for q in (self.q_cc, self.q_sd):
            q.stop()

    def data_progress(self, q) -> list[dict]:
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def check(self, cpus: int) -> list[str]:
        """Both outputs against batch recomputation over the released files."""
        from pyspark.sql import functions as F

        from gelly_streaming_spark.edges import edges_from_transcripts
        from gelly_streaming_spark.plans.connected_components import connected_components

        spark = self.spark
        edges = edges_from_transcripts(spark.read.schema(TSCHEMA).parquet(*self.released)).df
        errors = []
        want = connected_components(edges, num_shards=cpus, shard_on=F.substring_index("src", "#", 1))
        got = self.cc.current_components(spark)
        a = checks.spark_digest(got.select("vertex", "component"))
        b = checks.spark_digest(want.select("vertex", "component"))
        if a != b:
            errors.append(f"current_components {a} != batch CC {b}")
        wm = self.q_sd.lastProgress["eventTime"]["watermark"]
        wm = datetime.fromisoformat(wm.replace("Z", "+00:00"))
        sessions = (
            edges.select(F.explode(F.array("src", "dst")).alias("vertex"), "ts")
            .groupBy(F.session_window("ts", SESSION_GAP).alias("s"), "vertex")
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(F.col("s.start").alias("sess_start"), F.col("s.end").alias("sess_end"), "vertex", "degree")
            # materialized first: Catalyst would push a filter on the session end
            # below the session merge, where it sees each row's unmerged window
            .localCheckpoint(eager=True)
            # append mode emits a session once the watermark reaches its end
            .filter(F.col("sess_end") <= F.lit(wm))
        )
        a = checks.spark_digest(self.sink.read_upserted(spark).select(*sessions.columns))
        b = checks.spark_digest(sessions)
        if a != b or a[0] == 0:
            errors.append(f"read_upserted {a} != batch session_window {b}")
        return errors


def _closed_loop(s: _Stream, files, seconds: float, clock: reference.Clock | None, n_max: int | None = None):
    """Release files one at a time until ``seconds`` have elapsed and at
    least STREAM_MIN_FILES are out (or ``n_max`` files); with a ``clock``,
    the reference job is timed after each. Returns (latencies, rows per
    file)."""
    lat, rows = [], []
    start = time.perf_counter()
    for path, n in files:
        if n_max is None:
            if len(lat) >= STREAM_MIN_FILES and time.perf_counter() - start >= seconds:
                break
        elif len(lat) >= n_max:
            break
        lat.append(s.release(path))
        if clock is not None:
            clock.tick()
        rows.append(n)
    return lat, rows


def prepare_stream(work: str, seed: int):
    return work, inputs.stage_transcripts(f"{work}/staged", seed, STREAM_CONVS, STREAM_FILES)


def run_stream(spark, prepared, seconds: float, trace: bool, t_start: float):
    cpus = spark.sparkContext.defaultParallelism
    work, files = prepared
    log("spark up")
    warm, backlog = files[:STREAM_WARM_FILES], files[STREAM_WARM_FILES:STREAM_LAST_FILE]
    s = _Stream(spark, f"{work}/stream", cpus, trace)
    try:
        # A file takes seconds, so each timing of the reference job is a
        # median of three. The job runs slower just after a file than on an
        # idle stream, so the clock starts before the warm-up files: the
        # timing before the first timed file then also follows a file.
        clock = reference.Clock(spark, runs=3)
        _closed_loop(s, warm, 0.0, clock, n_max=len(warm))
        del clock.refs[:-1]
        setup_s = time.perf_counter() - t_start
        log(f"setup {setup_s:.2f} s")
        lat, rows = _closed_loop(s, backlog, seconds, clock)
        log("file latencies " + " ".join(f"{x:.2f}" for x in lat))
        log("reference timings " + " ".join(f"{x:.3f}" for x in clock.refs))
        rss = spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark))
        per_layer = {}
        if trace:
            # as many files again, traced
            first = spark_stats.last_stage_id(spark)
            s.tracing = True
            traced, _ = _closed_loop(s, backlog[len(lat) :], seconds, None, n_max=len(lat))
            s.tracing = False
            per_layer = _stream_layers(s, len(warm) + len(lat), len(traced), first)
            per_layer["trace.overhead_s"] = _median(traced) - _median(lat)
            per_layer["sessions.rows_dropped_late"] = float(_dropped(s))
            per_layer.update({m: 0.0 for m in batch_metric_names()})
        s.stop()
        errors = s.check(cpus)
    finally:
        s.stop()
    dropped = _dropped(s)
    if dropped:
        errors.append(f"{dropped} rows dropped by the watermark")
    for e in errors:
        log(f"check failed: {e}")
    if trace:
        per_layer["rows_per_s"] = sum(rows) / sum(lat)
        per_layer["ref.s"] = _median(clock.refs)
    end_to_end = {
        "setup_s": setup_s,
        # The median file's throughput times the reference job's fastest
        # timing in the window. A timing just after a file is now and then
        # slowed, by a third or more, by work the file left behind, which
        # does not slow the files themselves; the host's drift within one
        # run is small.
        "rows_per_ref": _median([n / x for n, x in zip(rows, lat)]) * min(clock.refs),
        "jvm_peak_rss_mb": rss,
    }
    # every released file is one epoch of each query; the three checks count too
    return end_to_end, per_layer, len(s.released) + 3, len(errors)


def _dropped(s: _Stream) -> int:
    return sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in s.q_sd.recentProgress
        for op in p.get("stateOperators", [])
    )


def _stream_layers(s: _Stream, skip: int, n: int, first_stage: int) -> dict[str, float]:
    spark = s.spark
    cc = s.data_progress(s.q_cc)[skip : skip + n]
    sd = s.data_progress(s.q_sd)[skip : skip + n]
    ops = [p["stateOperators"][0] for p in sd]
    epochs = [p["batchId"] for p in cc]
    out = {
        f"cc.{ph}_s": _median([s.phases[e].get(ph, 0.0) for e in epochs]) for ph in CC_PHASES
    }
    out.update(
        {
            "cc.add_batch_s": _median([p["durationMs"]["addBatch"] / 1e3 for p in cc]),
            "cc.epoch_s": _median([p["durationMs"]["triggerExecution"] / 1e3 for p in cc]),
            "sessions.epoch_s": _median([p["durationMs"]["triggerExecution"] / 1e3 for p in sd]),
            "sink.write_s": _median([s.sink_secs[p["batchId"]] for p in sd]),
            "sessions.state_commit_ms": _median([op["commitTimeMs"] for op in ops]),
            "sessions.state_rows_updated": _median([op["numRowsUpdated"] for op in ops]),
            "sessions.state_memory_mb": _median([op["memoryUsedBytes"] / 1e6 for op in ops]),
            "stream.input_rows_per_epoch": _median([p["numInputRows"] for p in cc]),
        }
    )
    out.update(_spark_totals(spark, first_stage, None, max(1, n)))
    return out


# name -> (prepare(work_dir, seed) -> inputs, run(spark, inputs, seconds, trace, t_start))
WORKLOADS = {
    "stream_cc_sessions": (prepare_stream, run_stream),
    "batch_graph_curation": (prepare_batch, run_batch),
}
