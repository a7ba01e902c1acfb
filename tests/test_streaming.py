"""Streaming replay tests (north_rule): run pipelines via micro-batch
over the deterministic transcript table and compare against
batch-computed goldens — same input + watermark => identical output
rows — plus checkpoint-resume and idempotent-replay (exactly-once)
checks."""

from __future__ import annotations

import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelly_streaming_spark import fixtures
from gelly_streaming_spark.edges import edges_from_transcripts
from gelly_streaming_spark.plans import ConnectedComponents
from gelly_streaming_spark.streaming.pipeline import (
    StreamingConnectedComponents,
    run_streaming_cc,
    run_streaming_session_degrees,
)
from gelly_streaming_spark.streaming.reconcile import reconcile_summary, reconcile_turns
from gelly_streaming_spark.streaming.sessionize import sessionize, sessionize_batch_lag
from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

TSCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


@pytest.fixture(scope="module")
def transcripts_pdf():
    return fixtures.make_transcripts(n_convs=20, turns_per_conv=20, seed=7)


def write_chunks(spark, pdf, path, n_chunks):
    chunk = (len(pdf) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part, schema=TSCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/f{i}")


@pytest.mark.parametrize("compact_every", [16, 2])
def test_streaming_cc_matches_batch(
    spark, transcripts_pdf, tmp_path, compact_every
):
    """3 files = epochs 0-2: compact_every=16 reads one base + two
    deltas; compact_every=2 compacts at epoch 2, so the final read
    is a lone compaction base."""
    from gelly_streaming_spark.streaming.state import committed_epochs

    src = str(tmp_path / "in")
    write_chunks(spark, transcripts_pdf, src, 3)
    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    q, cc = run_streaming_cc(
        stream,
        state_path=str(tmp_path / "state"),
        checkpoint_path=str(tmp_path / "ckpt"),
        num_shards=4,
        compact_every=compact_every,
    )
    q.processAllAvailable()
    q.stop()
    bases = committed_epochs(spark, str(tmp_path / "state/base"))
    assert bases == ([0, 2] if compact_every == 2 else [0])

    got = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    expect = {
        (r["vertex"], r["component"])
        for r in edges_from_transcripts(batch)
        .aggregate(ConnectedComponents(vertex_type="string"), num_shards=4)
        .collect()
    }
    assert got == expect


def test_streaming_cc_resume_from_checkpoint(spark, transcripts_pdf, tmp_path):
    """Kill mid-stream, restart with the same checkpoint + more data:
    final state equals batch CC over everything (resumability)."""
    src = str(tmp_path / "in")
    half = len(transcripts_pdf) // 2
    write_chunks(spark, transcripts_pdf.iloc[:half], src, 2)

    def start():
        stream = (
            spark.readStream.schema(TSCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        return run_streaming_cc(
            stream,
            state_path=str(tmp_path / "state"),
            checkpoint_path=str(tmp_path / "ckpt"),
            num_shards=4,
        )

    q1, cc1 = start()
    q1.processAllAvailable()
    q1.stop()  # "crash"

    # more data arrives while down (new files f2, f3)
    chunk = (half + 1) // 2
    rest = transcripts_pdf.iloc[half:]
    for j, i in enumerate(range(0, len(rest), max(1, len(rest) // 2))):
        part = rest.iloc[i : i + max(1, len(rest) // 2)]
        if len(part):
            spark.createDataFrame(part, schema=TSCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/f{2 + j}")

    q2, cc2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    expect = {
        (r["vertex"], r["component"])
        for r in edges_from_transcripts(batch)
        .aggregate(ConnectedComponents(vertex_type="string"), num_shards=4)
        .collect()
    }
    assert got == expect


def test_cc_epoch_replay_is_idempotent(spark, transcripts_pdf, tmp_path):
    """Replaying the same epoch (at-least-once foreachBatch) must not
    change the state — the exactly-once contract."""
    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    edges = edges_from_transcripts(batch).df
    cc = StreamingConnectedComponents(str(tmp_path / "state"), num_shards=4)
    cc.process_batch(edges, 0)
    s1 = {(r["vertex"], r["component"]) for r in cc.current_components(spark).collect()}
    cc.process_batch(edges, 0)  # replay epoch 0
    s2 = {(r["vertex"], r["component"]) for r in cc.current_components(spark).collect()}
    assert s1 == s2


def test_cc_state_on_file_uri(spark, transcripts_pdf, tmp_path):
    """Epoch-state discovery must work through the Hadoop FileSystem
    API, not driver-local POSIX calls: state under an explicit
    ``file:/`` URI (the scheme-resolution path a cluster FS takes)
    behaves identically — including crash-safety (an epoch dir
    without _SUCCESS stays invisible)."""
    from gelly_streaming_spark.streaming.state import committed_epochs

    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    edges = edges_from_transcripts(batch).df
    state = "file://" + str(tmp_path / "uri_state")
    cc = StreamingConnectedComponents(state, num_shards=4)
    cc.process_batch(edges, 0)
    assert committed_epochs(spark, f"{state}/base") == [0]
    got = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    expect = {
        (r["vertex"], r["component"])
        for r in edges_from_transcripts(batch)
        .aggregate(ConnectedComponents(vertex_type="string"), num_shards=4)
        .collect()
    }
    assert got == expect
    # a fake partial epoch (no _SUCCESS) must be ignored
    import os

    partial = str(tmp_path / "uri_state" / "delta" / "epoch=1")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-0.parquet"), "wb") as f:
        f.write(b"garbage")
    assert committed_epochs(spark, f"{state}/delta") == []
    assert cc.current_components(spark).count() == len(expect)


def test_streaming_degrees_update_mode(spark, transcripts_pdf, tmp_path):
    """getDegrees on a STREAMING frame in update mode (the analog of
    the reference's per-update emission, TestGetDegrees.java:57-83):
    the last emitted count per vertex — counts are monotone, so the
    max across update-mode emissions — converges to the batch degree
    for every vertex."""
    from gelly_streaming_spark.edges import EdgeStream

    src = str(tmp_path / "deg_in")
    write_chunks(spark, transcripts_pdf, src, 3)
    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    sedges = edges_from_transcripts(stream).df
    deg_stream = EdgeStream(sedges).get_degrees()
    q = (
        deg_stream.writeStream.format("memory")
        .queryName("deg_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "deg_ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    updates = spark.sql("select * from deg_updates")
    # >1 micro-batch -> some vertex must have emitted an improving
    # (smaller, earlier) count before its final one
    assert updates.count() > updates.select("vertex").distinct().count()
    got = {
        r["vertex"]: r["degree"]
        for r in updates.groupBy("vertex")
        .agg(F.max("degree").alias("degree"))
        .collect()
    }
    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    expect = {
        r["vertex"]: r["degree"]
        for r in EdgeStream(edges_from_transcripts(batch).df)
        .get_degrees()
        .collect()
    }
    assert got == expect


def test_streaming_session_degrees_match_batch(spark, transcripts_pdf, tmp_path):
    """Append-mode session degrees through the exactly-once sink ==
    batch session_window aggregation (sessions closed by watermark via
    a far-future sentinel turn)."""
    pdf = transcripts_pdf.copy()
    sentinel = pd.DataFrame(
        {
            "conv_id": ["zz-sentinel"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["t-zz-0"],
            "tool": ["bash"],
            "ts": [pdf["ts"].max() + pd.Timedelta(days=2)],
        }
    )
    src = str(tmp_path / "in")
    write_chunks(spark, pdf, src, 2)
    spark.createDataFrame(sentinel, schema=TSCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f9")

    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    sink = IdempotentUpsertSink(
        str(tmp_path / "sink"), keys=["vertex", "sess_start"]
    )
    q = run_streaming_session_degrees(
        stream, sink, str(tmp_path / "ckpt2"), gap="5 minutes", watermark="1 minute"
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["vertex"], r["sess_start"], r["degree"])
        for r in sink.read_upserted(spark).collect()
        if not r["vertex"].startswith("zz-sentinel")
    }
    batch = spark.createDataFrame(pdf, schema=TSCHEMA)
    edges = edges_from_transcripts(batch).df
    vertices = edges.select(F.explode(F.array("src", "dst")).alias("vertex"), "ts")
    expect = {
        (r["vertex"], r["sess"]["start"], r["degree"])
        for r in vertices.groupBy(
            F.session_window("ts", "5 minutes").alias("sess"), "vertex"
        )
        .agg(F.count(F.lit(1)).alias("degree"))
        .collect()
    }
    assert got == expect
    # one lineage/metrics row per committed epoch, accounting for all rows
    from gelly_streaming_spark.streaming.state import committed_epochs

    m = sink.read_metrics(spark).collect()
    assert sorted(r["epoch"] for r in m) == committed_epochs(
        spark, str(tmp_path / "sink/data")
    )
    assert sum(r["rows_in"] for r in m) == sink.read_all(spark).count()


def test_sink_readers_skip_uncommitted_epoch(spark, tmp_path):
    """An epoch directory a crash left without ``_SUCCESS`` stays
    invisible to the sink's readers, as it does for the CC state; with
    no committed epoch at all, every reader returns ``None``."""
    import os

    sink = IdempotentUpsertSink(str(tmp_path / "sink"), keys=["k"])
    readers = (sink.read_all, sink.read_upserted, sink.read_metrics)
    assert [read(spark) for read in readers] == [None, None, None]
    schema = "k int, v string"

    def write_partial(epoch):
        partial = str(tmp_path / f"sink/data/epoch={epoch}")
        spark.createDataFrame([(1, "partial")], schema).withColumn(
            "_epoch", F.lit(epoch)
        ).coalesce(1).write.parquet(partial)
        os.remove(os.path.join(partial, "_SUCCESS"))

    write_partial(0)
    assert [read(spark) for read in readers] == [None, None, None]
    sink.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], schema), 0)
    write_partial(1)
    got = {(r["k"], r["v"]) for r in sink.read_upserted(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    m = sink.read_metrics(spark).collect()
    assert [(r["epoch"], r["rows_in"]) for r in m] == [(0, 2)]


def test_sessionize_batch_formulations_agree(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    a = sessionize(df, gap="5 minutes")
    b = sessionize_batch_lag(df, gap_seconds=300)
    ga = {(r["conv_id"], r["sess_start"], r["n_turns"]) for r in a.collect()}
    gb = {(r["conv_id"], r["sess_start"], r["n_turns"]) for r in b.collect()}
    assert ga == gb


def test_reconcile_streaming_out_of_order(spark, transcripts_pdf, tmp_path):
    """Two feeds of the same turns, the right one delivered shuffled:
    the stream-stream join matches every turn and text equality holds
    (per-row invariant)."""
    pdf = transcripts_pdf.iloc[:200]
    shuffled = pdf.sample(frac=1.0, random_state=3)
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    write_chunks(spark, pdf, lpath, 2)
    write_chunks(spark, shuffled, rpath, 2)

    ls = spark.readStream.schema(TSCHEMA).parquet(lpath + "/f*")
    rs = spark.readStream.schema(TSCHEMA).parquet(rpath + "/f*")
    rec = reconcile_turns(ls, rs, watermark="1 hour", join_window="2 hours")
    q = (
        rec.writeStream.format("memory")
        .queryName("rec_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select * from rec_out")
    assert out.count() == len(pdf)
    assert out.filter(~F.col("text_equal")).count() == 0


def test_reconcile_detects_text_mismatch(spark, transcripts_pdf):
    pdf = transcripts_pdf.iloc[:50]
    corrupted = pdf.copy()
    corrupted.loc[corrupted.index[7], "text"] = "CORRUPTED"
    l = spark.createDataFrame(pdf, schema=TSCHEMA)
    r = spark.createDataFrame(corrupted, schema=TSCHEMA)
    s = reconcile_summary(reconcile_turns(l, r)).collect()[0]
    assert s["n_turns"] == 50 and s["n_mismatch"] == 1


@pytest.mark.parametrize(
    "graph,epochs",
    [
        ("BIPARTITE_GRAPH", [[0, 1, 2], [3, 4, 5]]),
        # the odd cycle 1-2-3 closes with (3, 1) in epoch 1
        ("NON_BIPARTITE_GRAPH", [[0, 1, 3], [2, 4, 5]]),
    ],
    ids=["bipartite", "odd_cycle"],
)
def test_generic_streaming_aggregation_bipartiteness(spark, tmp_path, graph, epochs):
    """Any merge-engine algorithm runs incrementally via foreachBatch:
    streaming bipartiteness over replayed chunks must match the batch
    golden — the positive fixture stays bipartite across epochs, and an
    odd cycle closed by a later epoch yields the (false, {}) sentinel."""
    from gelly_streaming_spark import fixtures
    from gelly_streaming_spark.plans.bipartiteness import BipartitenessCheck
    from gelly_streaming_spark.streaming.aggregation import (
        run_streaming_aggregation,
    )

    pdf = fixtures.edges_pdf(getattr(fixtures, graph), with_val=False)
    path = str(tmp_path / "bip_src")
    for i, rows in enumerate(epochs):
        spark.createDataFrame(
            pdf.iloc[rows], schema="src long, dst long, val long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/f{i}")
    stream = (
        spark.readStream.schema("src long, dst long, val long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/f*")
    )
    q, agg = run_streaming_aggregation(
        stream,
        BipartitenessCheck(),
        str(tmp_path / "bip_state"),
        str(tmp_path / "bip_ckpt"),
        num_shards=4,
    )
    q.processAllAvailable()
    q.stop()
    rows = agg.current(spark).collect()
    if graph == "NON_BIPARTITE_GRAPH":
        assert [tuple(r) for r in rows] == [(-1, -1, False)]
        return
    out = {r["vertex"]: (r["color"], r["is_bipartite"]) for r in rows}
    assert all(ok for _, ok in out.values())
    part0 = {v for v, (c, _) in out.items() if c == 0}
    part1 = {v for v, (c, _) in out.items() if c == 1}
    assert (part0, part1) == (fixtures.BIPARTITE_PARTS[0], fixtures.BIPARTITE_PARTS[1]) or (
        part1, part0
    ) == (fixtures.BIPARTITE_PARTS[0], fixtures.BIPARTITE_PARTS[1])


def test_generic_streaming_aggregation_degree(spark, tmp_path):
    from gelly_streaming_spark import fixtures
    from gelly_streaming_spark.plans.degree_check import DegreeCheck
    from gelly_streaming_spark.streaming.aggregation import (
        run_streaming_aggregation,
    )

    pdf = fixtures.edges_pdf(fixtures.SAMPLE_GRAPH)
    path = str(tmp_path / "deg_src")
    for i in range(2):
        part = pdf.iloc[i * 4 : (i + 1) * 4]
        if len(part) == 0:
            continue
        spark.createDataFrame(
            part, schema="src long, dst long, val long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/f{i}")
    stream = (
        spark.readStream.schema("src long, dst long, val long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/f*")
    )
    q, agg = run_streaming_aggregation(
        stream,
        DegreeCheck(),
        str(tmp_path / "deg_state"),
        str(tmp_path / "deg_ckpt"),
        num_shards=4,
    )
    q.processAllAvailable()
    q.stop()
    got = {r["vertex"]: r["degree"] for r in agg.current(spark).collect()}
    assert got == {1: 3, 2: 2, 3: 4, 4: 2, 5: 3}


def test_streaming_aggregation_deletes_superseded_state(spark, tmp_path):
    """The generic streaming aggregation keeps one state epoch per
    replayable read: after epoch e only the latest committed state
    below e and e itself remain, and a replay of e still reads the
    kept epoch, so the running degrees stay the batch degrees."""
    from gelly_streaming_spark.plans.degree_check import DegreeCheck
    from gelly_streaming_spark.streaming.aggregation import (
        StreamingGraphAggregation,
    )
    from gelly_streaming_spark.streaming.state import committed_epochs

    st = str(tmp_path / "agg")
    batches = [[(1, 2)], [(2, 3)], [(3, 1)], [(1, 4)]]
    agg = StreamingGraphAggregation(DegreeCheck(), st, num_shards=4)
    for e, pairs in enumerate(batches):
        agg.process_batch(spark.createDataFrame(pairs, "src long, dst long"), e)
    expect = {1: 3, 2: 2, 3: 2, 4: 1}
    assert committed_epochs(spark, f"{st}/state") == [2, 3]
    assert {r["vertex"]: r["degree"] for r in agg.current(spark).collect()} == expect
    agg.process_batch(spark.createDataFrame(batches[3], "src long, dst long"), 3)
    assert committed_epochs(spark, f"{st}/state") == [2, 3]
    assert {r["vertex"]: r["degree"] for r in agg.current(spark).collect()} == expect


def test_apply_in_pandas_with_state_signed_floor(spark, tmp_path):
    """The per-update zero floor needs custom state transitions —
    run the fully-dynamic signed degree through managed state and pin
    the floor semantics across micro-batch boundaries."""
    from gelly_streaming_spark.streaming.stateful import (
        streaming_signed_degrees,
    )

    # batch 1: add then remove (degree 1 -> 0); batch 2: remove at 0
    # (no-op floor) then add (degree 1)
    b1 = [("a", "b", "+"), ("a", "b", "-")]
    b2 = [("a", "b", "-"), ("a", "b", "+")]
    src = str(tmp_path / "sg_in")
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(
            rows, schema="src string, dst string, op string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema("src string, dst string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    out = streaming_signed_degrees(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sg_deg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sg_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {(r["vertex"], r["degree"]) for r in spark.sql("select * from sg_deg").collect()}
    # batch 1 ends at degree 0; batch 2 ends at 1 — WITHOUT the floor
    # batch 2 would be (-1 -> -1, +1 -> 0) and emit degree 0, so the
    # (v, 1) emissions pin the per-update floor across batch state
    assert rows == {("a", 0), ("b", 0), ("a", 1), ("b", 1)}


def test_streaming_agg_under_rocksdb_state_store(spark, transcripts_pdf, tmp_path):
    """The 10^12-turn state-volume path: the same stateful streaming
    aggregation under the RocksDB state-store provider (disk-backed,
    incremental checkpointing) produces identical results to the
    default provider, and the checkpoint actually contains RocksDB
    artifacts (proving the provider was in effect)."""
    import glob
    import os

    from gelly_streaming_spark.edges import EdgeStream

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "rk_in")
        write_chunks(spark, transcripts_pdf, src, 2)
        stream = (
            spark.readStream.schema(TSCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        deg = EdgeStream(edges_from_transcripts(stream).df).get_degrees()
        q = (
            deg.writeStream.format("memory")
            .queryName("rk_deg")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rk_ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        r["vertex"]: r["degree"]
        for r in spark.sql(
            "select vertex, max(degree) degree from rk_deg group by vertex"
        ).collect()
    }
    batch = spark.createDataFrame(transcripts_pdf, schema=TSCHEMA)
    expect = {
        r["vertex"]: r["degree"]
        for r in EdgeStream(edges_from_transcripts(batch).df).get_degrees().collect()
    }
    assert got == expect
    # RocksDB leaves .zip snapshots / .changelog files, never .delta
    state_files = glob.glob(str(tmp_path / "rk_ckpt" / "state" / "**"), recursive=True)
    exts = {os.path.splitext(f)[1] for f in state_files if os.path.isfile(f)}
    assert ".delta" not in exts and ({".zip", ".changelog"} & exts), exts


# -- incremental state engine (delta epochs + lazy relabel) -------------------


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def test_incremental_cc_lazy_relabel_across_batches(spark, tmp_path):
    """A batch that merges two existing components must relabel the
    UNTOUCHED members of the losing component lazily (via the
    mapping), and the mapping must stay path-compressed across a
    chain of merges — no O(V) rewrite anywhere."""
    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4)
    cc.process_batch(_edges(spark, [("b", "c"), ("e", "f"), ("h", "i")]), 0)
    cc.process_batch(_edges(spark, [("c", "e")]), 1)  # b-comp <- e-comp
    cc.process_batch(_edges(spark, [("f", "h")]), 2)  # (f via stale label) <- h-comp
    expect = {(v, "b") for v in ["b", "c", "e", "f", "h", "i"]}
    got = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    assert got == expect
    # merge-only batches persist EMPTY deltas (no new vertices). An
    # empty delta may hold no data file to infer a schema from, so raw
    # dir reads spell the schema out — same contract the engine uses.
    raw = "vertex string, component string"
    assert spark.read.schema(raw).parquet(f"{st}/delta/epoch=1").count() == 0
    assert spark.read.schema(raw).parquet(f"{st}/delta/epoch=2").count() == 0
    # the folded mapping is one hop: every stale label points at the
    # final root directly
    m = {
        (r["comp"], r["root"])
        for r in spark.read.parquet(f"{st}/mapping/epoch=2").collect()
    }
    assert m == {("e", "b"), ("h", "b")}
    # a cold reader (fresh object, no in-memory carry) agrees
    cc2 = StreamingConnectedComponents(st, num_shards=4)
    got2 = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    assert got2 == expect


def test_incremental_cc_compaction(spark, tmp_path):
    """Every compact_every epochs the mapping folds into a full
    base snapshot, which writes no mapping; reads after compaction
    span only base..latest, and the epoch after the compaction deletes
    the epochs before its base."""
    from gelly_streaming_spark.streaming.state import committed_epochs

    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4, compact_every=2)
    cc.process_batch(_edges(spark, [("a", "b"), ("x", "y")]), 0)
    cc.process_batch(_edges(spark, [("b", "x")]), 1)  # merge: x-comp -> a
    cc.process_batch(_edges(spark, [("y", "z")]), 2)  # compaction epoch
    cc.process_batch(_edges(spark, [("q", "r")]), 3)
    assert committed_epochs(spark, f"{st}/base") == [2]
    assert committed_epochs(spark, f"{st}/delta") == [3]
    # bases are plain parquet like deltas: no partition directories
    import glob as _glob
    import os

    assert not _glob.glob(f"{st}/*/epoch=*/*=*")
    # epoch 2 is a full snapshot of all 5 vertices, mapping reset
    assert spark.read.parquet(f"{st}/base/epoch=2").count() == 5
    assert committed_epochs(spark, f"{st}/mapping") == [3]
    assert [sorted(os.listdir(f"{st}/{t}")) for t in ("base", "delta", "mapping")] == [
        ["epoch=2"], ["epoch=3"], ["epoch=3"],
    ]
    expect = {
        ("a", "a"), ("b", "a"), ("x", "a"), ("y", "a"), ("z", "a"),
        ("q", "q"), ("r", "q"),
    }
    got = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    assert got == expect
    cc2 = StreamingConnectedComponents(st, num_shards=4, compact_every=2)
    got2 = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    assert got2 == expect
    # epoch 3 may replay; its replay reads base 2, which it kept
    cc2.process_batch(_edges(spark, [("q", "r")]), 3)
    got3 = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    assert got3 == expect
    assert committed_epochs(spark, f"{st}/base") == [2]
    assert committed_epochs(spark, f"{st}/delta") == [3]
    assert committed_epochs(spark, f"{st}/mapping") == [3]


def test_incremental_cc_replay_midstream(spark, tmp_path):
    """Replaying a mid-stream epoch (at-least-once foreachBatch) hits
    the cache-invalidation path (cache is AT the replayed epoch, not
    before it) and must leave the state unchanged."""
    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4)
    cc.process_batch(_edges(spark, [("a", "b"), ("x", "y")]), 0)
    cc.process_batch(_edges(spark, [("b", "x"), ("m", "n")]), 1)
    s1 = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    cc.process_batch(_edges(spark, [("b", "x"), ("m", "n")]), 1)  # replay
    s2 = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    assert s1 == s2 == {
        ("a", "a"), ("b", "a"), ("x", "a"), ("y", "a"), ("m", "m"), ("n", "m"),
    }
    # continuing after the replay still works
    cc.process_batch(_edges(spark, [("n", "y")]), 2)
    s3 = {
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    }
    assert s3 == {(v, "a") for v in ["a", "b", "x", "y", "m", "n"]}


def test_streaming_quotient_limit_crossing(spark, tmp_path):
    """VERDICT r3 #7: the ``_contract_min_labels`` branch (quotient
    above ``quotient_serial_limit``) crossed MID-STREAM — limit=0
    forces the fully-distributed pointer-doubling contraction on every
    batch, including merge batches that link existing components, and
    must agree with the serial-quotient engine exactly."""
    batches = [
        [("a", "b"), ("c", "d"), ("e", "f")],
        [("b", "c"), ("f", "g")],
        [("d", "e")],
    ]
    results = {}
    for name, limit in [("serial", 1_000_000), ("contract", 0)]:
        cc = StreamingConnectedComponents(
            str(tmp_path / f"s_{name}"), num_shards=4,
            quotient_serial_limit=limit,
        )
        for i, ed in enumerate(batches):
            cc.process_batch(_edges(spark, ed), i)
        results[name] = {
            (r["vertex"], r["component"])
            for r in cc.current_components(spark).collect()
        }
    expect = {(v, "a") for v in "abcdefg"}
    assert results["serial"] == results["contract"] == expect


def test_compaction_base_crash_reads_previous_epoch(spark, tmp_path):
    """Crash corner: a compaction whose base write died before
    ``_SUCCESS``. That epoch is uncommitted, so a cold reader answers
    as of the epoch before it, and re-processing the crashed epoch (as
    the checkpoint replays it) and the next one gives the same sets as
    an uninterrupted run."""
    from gelly_streaming_spark.streaming.state import committed_epochs

    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4, compact_every=2)
    b0 = [(f"a{i}", f"b{i}") for i in range(6)]
    b1 = [(f"c{i}", f"d{i}") for i in range(4)]
    cc.process_batch(_edges(spark, b0), 0)
    cc.process_batch(_edges(spark, b1), 1)
    cc.process_batch(_edges(spark, [("a0", "c0")]), 2)  # compaction
    # simulate the crash: epoch 2's base never reached job commit
    import os

    os.remove(f"{st}/base/epoch=2/_SUCCESS")
    assert committed_epochs(spark, f"{st}/base") == [0]
    cc2 = StreamingConnectedComponents(st, num_shards=4, compact_every=2)
    got = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    assert got == (
        {(f"a{i}", f"a{i}") for i in range(6)}
        | {(f"b{i}", f"a{i}") for i in range(6)}
        | {(f"c{i}", f"c{i}") for i in range(4)}
        | {(f"d{i}", f"c{i}") for i in range(4)}
    )
    cc2.process_batch(_edges(spark, [("a0", "c0")]), 2)  # replay
    got = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    expect = (
        # epoch 2 merged {a0,b0} with {c0,d0} and, being a compaction,
        # folded the mapping into the snapshot: all four read "a0"
        {(v, "a0") for v in ("a0", "b0", "c0", "d0")}
        | {(f"a{i}", f"a{i}") for i in range(1, 6)}
        | {(f"b{i}", f"a{i}") for i in range(1, 6)}
        | {(f"c{i}", f"c{i}") for i in range(1, 4)}
        | {(f"d{i}", f"c{i}") for i in range(1, 4)}
    )
    assert got == expect
    # and the engine continues from the replayed base
    cc2.process_batch(_edges(spark, [("d0", "a1")]), 3)
    got2 = {
        (r["vertex"], r["component"])
        for r in cc2.current_components(spark).collect()
    }
    assert ("d0", "a0") in got2 and ("a1", "a0") in got2 and ("b1", "a0") in got2


def test_cc_state_reads_plan_no_aggregate(spark, tmp_path):
    """The base and delta tables are vertex-disjoint, so neither a
    cold read nor the state a resumed batch probes aggregates over
    ``vertex``: after one base and two deltas, a fresh object's
    ``current_components`` plan and the touched-vertex probe of a
    resumed ``process_batch`` hold no aggregate."""
    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4)
    cc.process_batch(_edges(spark, [("a", "b"), ("x", "y")]), 0)
    cc.process_batch(_edges(spark, [("b", "x"), ("m", "n")]), 1)
    cc.process_batch(_edges(spark, [("n", "p")]), 2)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    cold = StreamingConnectedComponents(st, num_shards=4)
    p = plan(cold.current_components(spark))
    assert "max_by" not in p and "Aggregate" not in p, p
    # the resumed batch's first _apply_mapping call receives the
    # touched-vertex semi-join over the state it reconstructed
    resumed = StreamingConnectedComponents(st, num_shards=4)
    probed = []
    apply_mapping = resumed._apply_mapping

    def spy(rows, mapping):
        probed.append(plan(rows))
        return apply_mapping(rows, mapping)

    resumed._apply_mapping = spy
    resumed.process_batch(_edges(spark, [("p", "q")]), 3)
    assert probed and "max_by" not in probed[0] and "Aggregate" not in probed[0], probed[0]
    got = {
        (r["vertex"], r["component"])
        for r in resumed.current_components(spark).collect()
    }
    assert got == {(v, "a") for v in "abxy"} | {(v, "m") for v in "mnpq"}


def test_cc_carry_size_estimate_does_not_compound(spark, tmp_path):
    """The (rows, mapping) carried to the next epoch must be planned
    from file sizes. A carried checkpoint of the epoch's joins keeps
    Catalyst's estimate of each join (the product of its inputs'
    estimates), which compounds epoch over epoch: past 2**63 bytes
    within a few epochs, until planning the next join stalls in
    big-integer multiplication. Every epoch here adds vertices and
    merges components, so both the delta and the mapping grow."""
    st = str(tmp_path / "s")
    cc = StreamingConnectedComponents(st, num_shards=4, compact_every=16)

    def size_in_bytes(df):
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        # py4j parses the BigInt from its decimal string, and a
        # compounded estimate passes int()'s default 4,300-digit limit
        limit = sys.get_int_max_str_digits()
        sys.set_int_max_str_digits(0)
        try:
            return int(stats.sizeInBytes())
        finally:
            sys.set_int_max_str_digits(limit)

    sizes = []
    for e in range(6):
        pairs = [(f"e{e}a{j}", f"e{e}b{j}") for j in range(20)]
        if e:
            pairs += [(f"e{e - 1}b{j}", f"e{e}a{j}") for j in range(0, 20, 2)]
        cc.process_batch(_edges(spark, pairs), e)
        rows, mapping = cc._prev_for(spark, e + 1)
        sizes.append(
            (size_in_bytes(rows), mapping is not None and size_in_bytes(mapping))
        )
    assert all(r < 2**63 and m < 2**63 for r, m in sizes), [
        (r.bit_length(), int(m).bit_length()) for r, m in sizes
    ]
    assert sizes[-1][1], "the last epoch carries a mapping"
    got = dict(
        (r["vertex"], r["component"])
        for r in cc.current_components(spark).collect()
    )
    assert got["e5b0"] == "e0a0" and got["e5b1"] == "e5a1"


def test_streaming_transitions_boundary_exactness(spark, tmp_path):
    """Streaming twin of transition_edges: a bigram whose two events
    land in DIFFERENT micro-batches counts exactly once (managed-state
    carryover), totals equal the batch operator, and out-of-order
    replay fails loudly instead of miscounting."""
    from gelly_streaming_spark.functions.sequences import transition_edges
    from gelly_streaming_spark.streaming.stateful import streaming_transitions

    schema = "uid long, seq long, label string"
    # file 0 ends u1 at 'b'; file 1 starts u1 at 'a' -> the boundary
    # bigram (b -> a) exists in NO single batch. u2 spans files too.
    f0 = [(1, 1, "a"), (1, 2, "b"), (2, 1, "x")]
    f1 = [(1, 3, "a"), (1, 4, "b"), (2, 2, "y")]
    src = str(tmp_path / "tr_in")
    for i, rows in enumerate([f0, f1]):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    out = streaming_transitions(stream, key="uid", label="label", order="seq")
    q = (
        out.writeStream.format("memory")
        .queryName("tr_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tr_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["src_label"], r["dst_label"]): r["n"]
        for r in spark.sql(
            "select src_label, dst_label, sum(n_transitions) as n "
            "from tr_out group by 1, 2"
        ).collect()
    }
    batch = spark.createDataFrame(f0 + f1, schema=schema)
    expect = {
        (r["src_label"], r["dst_label"]): r["n_transitions"]
        for r in transition_edges(
            batch, key="uid", label="label", order_by=["seq"]
        ).collect()
    }
    assert got == expect
    assert got[("b", "a")] == 1  # the boundary bigram, counted once
    # the key column rides in the output so (key, src, dst) is unique
    # per epoch — upsert-sink-safe (ADVICE r4)
    per_key = {
        (r["uid"], r["src_label"], r["dst_label"]): r["n"]
        for r in spark.sql(
            "select uid, src_label, dst_label, sum(n_transitions) as n "
            "from tr_out group by 1, 2, 3"
        ).collect()
    }
    assert per_key[(1, "b", "a")] == 1
    assert per_key[(2, "x", "y")] == 1

    # out-of-order replay (file 2 rewinds u1's order) raises loudly
    spark.createDataFrame([(1, 2, "z")], schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{src}/f2")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    out2 = streaming_transitions(stream2, key="uid", label="label", order="seq")
    q2 = (
        out2.writeStream.format("memory")
        .queryName("tr_bad")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tr_ckpt2"))
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="out-of-order replay"):
        q2.processAllAvailable()
    q2.stop()


def test_streaming_transitions_null_labels_and_micros_order(spark, tmp_path):
    """ADVICE r4 parity fixes: (a) null labels follow the batch twin
    exactly — bigrams with a null SRC label drop, null DST labels are
    kept (pandas dropna must not silently eat them); (b) a timestamp
    order column is compared at microsecond precision, so two events
    in the same second do NOT tie (the old cast-to-long truncation
    made them nondeterministic and could trip the out-of-order check
    spuriously on replay)."""
    import datetime as _dt

    from gelly_streaming_spark.functions.sequences import transition_edges
    from gelly_streaming_spark.streaming.stateful import streaming_transitions

    schema = "uid long, ts timestamp, label string"
    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    us = _dt.timedelta(microseconds=1)
    # u1: a -> NULL -> b within ONE second (micros apart), then c in
    # the next file starting at the same-second +3us boundary
    f0 = [(1, t0, "a"), (1, t0 + us, None), (1, t0 + 2 * us, "b")]
    f1 = [(1, t0 + 3 * us, "c")]
    src = str(tmp_path / "trn_in")
    for i, rows in enumerate([f0, f1]):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    out = streaming_transitions(stream, key="uid", label="label", order="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("trn_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "trn_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["src_label"], r["dst_label"]): r["n"]
        for r in spark.sql(
            "select src_label, dst_label, sum(n_transitions) as n "
            "from trn_out group by 1, 2"
        ).collect()
    }
    batch = spark.createDataFrame(f0 + f1, schema=schema)
    expect = {
        (r["src_label"], r["dst_label"]): r["n_transitions"]
        for r in transition_edges(
            batch, key="uid", label="label", order_by=["ts"]
        ).collect()
    }
    # batch twin keeps (a -> NULL), drops (NULL -> b), keeps (b -> c)
    assert expect == {("a", None): 1, ("b", "c"): 1}
    assert got == expect


def test_streaming_transitions_rejects_in_batch_ties(spark, tmp_path):
    """Two events of one key with the same timestamp in ONE
    micro-batch have no defined bigram order: the fold must fail
    loudly instead of ordering them by arrival."""
    import datetime as _dt

    from gelly_streaming_spark.streaming.stateful import streaming_transitions

    schema = "uid long, ts timestamp, label string"
    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(1, t0, "a"), (1, t0, "b"), (2, t0, "x")]
    src = str(tmp_path / "tie_in")
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f0")
    stream = spark.readStream.schema(schema).parquet(src + "/f*")
    out = streaming_transitions(stream, key="uid", label="label", order="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("tie_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tie_ckpt"))
        .start()
    )
    with pytest.raises(Exception, match="within one batch"):
        q.processAllAvailable()
    q.stop()


def test_streaming_triangle_estimate_batch_invariant(spark, tmp_path):
    """Managed-state streaming triangle estimate (VERDICT r4 #6): the
    estimate is a pure function of (seed, edge order) — replaying the
    SAME edge stream as 1 micro-batch vs 4 micro-batches yields the
    IDENTICAL estimate (boundary exactness of the reservoir state),
    and the sampler fold reproduces a driver-side reference fold of
    the same seeded semantics exactly."""
    from gelly_streaming_spark.functions.hashing import hash60_py
    from gelly_streaming_spark.streaming.stateful import (
        streaming_triangle_estimate,
        triangle_estimate_from_samplers,
    )

    S, SEED = 16, 0xDEADBEEF
    # K4 + pendant path (4 triangles) then a second K3 (1 more)
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6),
        (7, 8), (7, 9), (8, 9),
    ]
    rows = [(a, b, i) for i, (a, b) in enumerate(edges)]
    schema = "src long, dst long, eidx long"

    def run(chunks, name):
        src = str(tmp_path / f"{name}_in")
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, schema=schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/f{i}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        out = streaming_triangle_estimate(stream, num_samplers=S, seed=SEED)
        q = (
            out.writeStream.format("memory")
            .queryName(f"{name}_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        latest = spark.sql(
            f"""select sid, beta, n_edges, n_vertices from (
                  select *, row_number() over (partition by sid
                            order by n_edges desc) as rn from {name}_out
                ) where rn = 1"""
        )
        return triangle_estimate_from_samplers(latest, S).collect()[0]

    one = run([rows], "te1")
    four = run([rows[:3], rows[3:6], rows[6:9], rows[9:]], "te4")
    assert one["n_edges"] == four["n_edges"] == len(edges)
    assert one["n_vertices"] == four["n_vertices"] == 9
    assert one["estimate"] == four["estimate"]  # boundary-invariant

    # driver-side reference fold of the identical seeded semantics
    def ref_fold():
        total_beta = 0
        for sid in range(S):
            verts, pos = [], {}
            a = b = c = None
            closed1 = closed2 = False
            for t, (u, v) in enumerate(edges):
                for x in (u, v):
                    if x not in pos:
                        pos[x] = len(verts)
                        verts.append(x)
                if hash60_py(f"res|{SEED}|{sid}|{t}") % (t + 1) == 0:
                    a, b = u, v
                    closed1 = closed2 = False
                    if len(verts) > 2:
                        r = hash60_py(f"tv|{SEED}|{sid}|{t}") % (len(verts) - 2)
                        lo, hi = sorted((pos[a], pos[b]))
                        r += 1 if r >= lo else 0
                        r += 1 if r >= hi else 0
                        c = verts[r]
                    else:
                        c = None
                elif a is not None and c is not None:
                    pu, pv = min(u, v), max(u, v)
                    if (pu, pv) == tuple(sorted((a, c))):
                        closed1 = True
                    if (pu, pv) == tuple(sorted((b, c))):
                        closed2 = True
            if closed1 and closed2 and c is not None:
                total_beta += 1
        return total_beta * len(edges) * (9 - 2) / S

    assert one["estimate"] == ref_fold()
    assert one["estimate"] >= 0.0


def test_session_stats_rollup(spark):
    """Per-user session rollup: counts derive exactly from the
    session-window frame (two sessions for a user whose events gap
    over an hour; avg is the exact ratio)."""
    from gelly_streaming_spark.queries import q_session_stats

    import pandas as pd

    # u1: 3 events in one hour-gapped burst + 1 event 3h later
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00"),
        (1, "2024-01-01 00:59:00"), (1, "2024-01-01 04:00:00"),
        (2, "2024-01-01 01:00:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("_ss_events")

    import gelly_streaming_spark.queries as Q

    orig = Q._t
    try:
        Q._t = lambda sp, sd, name: sp.table("_ss_events")
        out = {r["user_id"]: r for r in q_session_stats(spark, "ignored").collect()}
    finally:
        Q._t = orig
    assert out[1]["n_sessions"] == 2
    assert out[1]["total_events"] == 4
    assert out[1]["max_session_events"] == 3
    assert out[1]["avg_session_events"] == 2.0
    assert out[2]["n_sessions"] == 1 and out[2]["avg_session_events"] == 1.0


def test_streaming_dedup_converges_to_batch(spark, tmp_path):
    """Streaming exact dedup: the upsert view (last row per text_hash)
    equals the batch dedup_exact table, a duplicate pair SPLIT across
    micro-batches is still collapsed (the stateless-per-batch failure
    mode), and the survivor map is batching-invariant."""
    from gelly_streaming_spark.functions.dedup import dedup_exact

    schema = "doc_id long, text string"
    # dup group A spans files (ids 0, 3), dup group B inside file 1
    # (ids 2, 4); 1 and 5 are unique. Min-id survivor: A->0, B->2.
    f0 = [(3, "same text alpha"), (1, "unique one")]
    f1 = [(2, "same text beta"), (4, "same text beta"), (0, "same text alpha")]
    f2 = [(5, "unique two")]
    src = str(tmp_path / "dd_in")
    files = [f0, f1, f2]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")

    def run(name, max_files):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(src + "/f*")
        )
        q = (
            dedup_exact(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # upsert view: the LAST emission per key (batch id via a
        # running max of n_docs — n_docs is monotone per key)
        return {
            r["text_hash"]: (r["keep_id"], r["n_docs"])
            for r in spark.sql(
                f"select text_hash, max_by(keep_id, n_docs) as keep_id, "
                f"max(n_docs) as n_docs from {name} group by text_hash"
            ).collect()
        }

    got_1 = run("dd_1", 1)  # 3 micro-batches: group A spans batches
    got_all = run("dd_all", 3)  # single batch
    batch = spark.createDataFrame(sum(files, []), schema=schema)
    expect = {
        r["text_hash"]: (r["keep_id"], r["n_docs"])
        for r in dedup_exact(batch).collect()
    }
    assert got_1 == expect
    assert got_1 == got_all  # batching-invariant
    # the cross-batch dup group really collapsed to min id 0, n=2
    assert (0, 2) in got_1.values()


def test_streaming_dedup_resume_from_checkpoint(spark, tmp_path):
    """Kill mid-stream, restart with the SAME checkpoint + more data:
    managed dedup state survives the restart, so a duplicate whose
    first copy arrived BEFORE the crash is still collapsed after it,
    and the final upsert view equals batch dedup_exact over all data."""
    from gelly_streaming_spark.functions.dedup import dedup_exact

    schema = "doc_id long, text string"
    pre = [(3, "same text alpha"), (1, "unique one")]
    # after the "crash": the dup of id 3 (crossing the restart) + more
    post = [(0, "same text alpha"), (2, "unique two")]
    src = str(tmp_path / "ddr_in")
    spark.createDataFrame(pre, schema=schema).coalesce(1).write.parquet(
        f"{src}/f0"
    )

    out = str(tmp_path / "ddr_out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        # memory sinks can't recover from a checkpoint; append the
        # per-batch upsert rows to parquet via foreachBatch (the
        # repo's epoch-sink pattern) and take the last row per key
        return (
            dedup_exact(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ddr_ckpt"))
            .start()
        )

    q1 = start()
    q1.processAllAvailable()
    q1.stop()  # "crash"
    spark.createDataFrame(post, schema=schema).coalesce(1).write.parquet(
        f"{src}/f1"
    )
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    # the appended emissions form the full upsert stream; n_docs is
    # monotone per key, so max_by(n_docs) is the latest row
    got = {
        r["text_hash"]: (r["keep_id"], r["n_docs"])
        for r in spark.read.parquet(out)
        .groupBy("text_hash")
        .agg(
            F.expr("max_by(keep_id, n_docs)").alias("keep_id"),
            F.max("n_docs").alias("n_docs"),
        )
        .collect()
    }
    batch = spark.createDataFrame(pre + post, schema=schema)
    expect = {
        r["text_hash"]: (r["keep_id"], r["n_docs"])
        for r in dedup_exact(batch).collect()
    }
    assert got == expect
    # the cross-restart duplicate collapsed to min id 0 with n=2 —
    # only possible if the pre-crash state was recovered
    assert (0, 2) in got.values()


def test_streaming_dedup_null_ids_match_batch(spark, tmp_path):
    """Null doc_id parity with dedup_exact: n_docs counts every row,
    keep_id is min over NON-null ids (null while only null-id rows
    arrived) — and the stream survives an all-null first batch."""
    from gelly_streaming_spark.functions.dedup import dedup_exact

    schema = "doc_id long, text string"
    f0 = [(None, "ghost text"), (None, "ghost text"), (7, "real")]
    f1 = [(4, "ghost text")]  # a real id arrives later for the group
    src = str(tmp_path / "ddn_in")
    spark.createDataFrame(f0, schema=schema).coalesce(1).write.parquet(
        f"{src}/f0"
    )
    spark.createDataFrame(f1, schema=schema).coalesce(1).write.parquet(
        f"{src}/f1"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    q = (
        dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("ddn")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ddn_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["text_hash"]: (r["keep_id"], r["n_docs"])
        for r in spark.sql(
            "select text_hash, max_by(keep_id, n_docs) as keep_id, "
            "max(n_docs) as n_docs from ddn group by text_hash"
        ).collect()
    }
    batch = spark.createDataFrame(f0 + f1, schema=schema)
    expect = {
        r["text_hash"]: (r["keep_id"], r["n_docs"])
        for r in dedup_exact(batch).collect()
    }
    assert got == expect
    assert (4, 3) in got.values()  # null ids counted, min skips nulls
