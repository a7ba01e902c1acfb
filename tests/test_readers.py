"""Text/parquet edge sources (sources/readers.py): every reader parses
its documented line format in batch, and the text edge reader also
runs on a stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from gelly_streaming_spark import fixtures
from gelly_streaming_spark.sources.readers import (
    adjacency_from_text,
    edges_from_text,
    signed_edges_from_text,
    timestamped_edges_from_text,
    transcripts_from_parquet,
)


def _write(path, lines):
    path.mkdir()
    (path / "part-0.txt").write_text("\n".join(lines) + "\n")
    return str(path)


def test_readers_batch(spark, tmp_path):
    # `src dst [val]`: two- and three-column lines mix, `%` lines skip
    ws = _write(tmp_path / "ws", ["% header", "1 2", " 2\t3 5 ", "3 1"])
    df = edges_from_text(spark, ws)
    rows = df.collect()
    assert [(r.src, r.dst, r.val) for r in rows] == [(1, 2, 1), (2, 3, 5), (3, 1, 1)]
    ts = [r.ts for r in rows]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    csv = _write(tmp_path / "csv", ["4,5", "5,6,2"])
    got = {(r.src, r.dst, r.val) for r in edges_from_text(spark, csv, sep=",").collect()}
    assert got == {(4, 5, 1), (5, 6, 2)}

    tsd = _write(tmp_path / "tsd", ["1 2 1000", "2 3 2500"])
    got = {
        (r.src, r.dst, r.val, r.ms)
        for r in timestamped_edges_from_text(spark, tsd)
        .select("src", "dst", "val", F.unix_millis("ts").alias("ms"))
        .collect()
    }
    assert got == {(1, 2, 1, 1000), (2, 3, 1, 2500)}

    signed = _write(tmp_path / "signed", ["1 2 +", "1 2 -"])
    got = [tuple(r) for r in signed_edges_from_text(spark, signed).collect()]
    assert got == [(1, 2, "+"), (1, 2, "-")]

    adj = _write(tmp_path / "adj", ["1,[2,3]", "(4, [5])", "6,[]"])
    got = {(r.vertex, tuple(r.neighbors)) for r in adjacency_from_text(spark, adj).collect()}
    assert got == {(1, (2, 3)), (4, (5,)), (6, ())}

    pdf = fixtures.make_transcripts(n_convs=3, turns_per_conv=4, seed=1)
    pq = str(tmp_path / "pq")
    spark.createDataFrame(pdf).write.parquet(pq)
    t = transcripts_from_parquet(spark, pq)
    assert t.count() == len(pdf) and set(t.columns) == set(pdf.columns)


def test_edges_from_text_streaming(spark, tmp_path):
    src = _write(tmp_path / "in", ["% header", "1 2", "2 3 5"])
    q = (
        edges_from_text(spark, src, streaming=True)
        .writeStream.format("memory")
        .queryName("text_edges")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from text_edges").collect()
    assert {(r.src, r.dst, r.val) for r in rows} == {(1, 2, 1), (2, 3, 5)}
    assert all(r.ts is not None for r in rows)
