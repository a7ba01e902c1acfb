"""Graph-slice golden tests (model: TestSlice.java:81-229 —
slice × {fold,reduce,apply} × {OUT,IN,ALL}). The reference's test
windows contain the whole 7-edge sample graph; we use a 1-day window
over the fixture's 7-second span for the same effect, plus a genuine
multi-window case."""

import pandas as pd
from pyspark.sql import functions as F

from gelly_streaming_spark import fixtures
from gelly_streaming_spark.edges import EdgeStream

WIN = "1 day"


def by_vertex(df):
    return {r["vertex"]: r["value"] for r in df.collect()}


def test_slice_out_sum(sample_edges):
    got = by_vertex(EdgeStream(sample_edges).slice(WIN, "out").reduce_on_edges(F.sum("val")))
    assert got == {1: 25, 2: 23, 3: 69, 4: 45, 5: 51}


def test_slice_in_sum(sample_edges):
    got = by_vertex(EdgeStream(sample_edges).slice(WIN, "in").reduce_on_edges(F.sum("val")))
    assert got == {2: 12, 3: 36, 4: 34, 5: 80, 1: 51}


def test_slice_all_sum(sample_edges):
    got = by_vertex(EdgeStream(sample_edges).slice(WIN, "all").reduce_on_edges(F.sum("val")))
    assert got == {1: 76, 2: 35, 3: 105, 4: 79, 5: 131}


def test_slice_fold_min(sample_edges):
    got = by_vertex(EdgeStream(sample_edges).slice(WIN, "out").fold_neighbors(F.min("val")))
    assert got == {1: 12, 2: 23, 3: 34, 4: 45, 5: 51}


def test_slice_apply_on_neighbors(sample_edges):
    """applyOnNeighbors: UDF sees the full neighbor set, may emit
    0..n rows — here: emit (vertex, max neighbor id) for panes with
    >= 2 neighbors."""

    def biggest(key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"vertex": [], "value": []})
        return pd.DataFrame({"vertex": [key[1]], "value": [pdf["dst"].max()]})

    out = (
        EdgeStream(sample_edges)
        .slice(WIN, "out")
        .apply_on_neighbors(biggest, "vertex long, value long")
    )
    assert by_vertex(out) == {1: 3, 3: 5}


def test_slice_multi_window(spark):
    """Edges 2 s apart with 3-second tumbling windows — per-pane sums
    split by event time."""
    pdf = fixtures.edges_pdf([(1, 2, 10), (1, 3, 20), (1, 4, 40)])
    pdf["ts"] = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:00:01", "2024-01-01 00:00:04"], utc=True
    )
    df = spark.createDataFrame(pdf, schema="src long, dst long, val long, ts timestamp")
    out = EdgeStream(df).slice("3 seconds", "out").reduce_on_edges(F.sum("val"))
    got = {(r["win"]["start"].second, r["vertex"]): r["value"] for r in out.collect()}
    assert got == {(0, 1): 30, (3, 1): 40}


def test_sliding_window_slice(spark):
    """With slide = size/2 every edge appears in exactly 2 panes."""
    from gelly_streaming_spark import fixtures
    from gelly_streaming_spark.edges import EdgeStream

    edges = spark.createDataFrame(
        fixtures.edges_pdf(fixtures.SAMPLE_GRAPH),
        schema="src long, dst long, val long, ts timestamp",
    )
    s = EdgeStream(edges).slice("4 seconds", "out", slide="2 seconds")
    out = s.reduce_on_edges(F.count(F.lit(1)).cast("long"))
    total = out.agg(F.sum("value")).collect()[0][0]
    assert total == 2 * len(fixtures.SAMPLE_GRAPH)


def test_generic_vertex_and_global_aggregate(sample_edges):
    from gelly_streaming_spark.edges import EdgeStream

    es = EdgeStream(sample_edges)
    per_vertex = {
        r["vertex"]: r["value"]
        for r in es.aggregate_on_vertices(
            F.col("val"), F.sum("value").cast("long")
        ).collect()
    }
    # vertex 1: edges 1->2(12), 1->3(13), 5->1(51) => 76
    assert per_vertex[1] == 12 + 13 + 51
    g = es.global_aggregate(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert g["s"] == sum(v for _, _, v in
                         __import__("gelly_streaming_spark.fixtures",
                                    fromlist=["SAMPLE_GRAPH"]).SAMPLE_GRAPH)
    assert g["n"] == 7
