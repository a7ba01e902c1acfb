"""Physical-plan regression tests — the PLANS.md claims, machine-checked.

Each assertion pins a property that matters at 100 TB and that a
well-meaning refactor could silently break: column-pruned scans,
pushed filters, no driver-side collect in the estimator, no pinned
broadcasts on unbounded sides, no Python stages in Catalyst-native
operators. String-matching executedPlan is blunt but effective as a
tripwire; PLANS.md carries the narrative.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_document_scans_are_column_pruned(spark):
    from gelly_streaming_spark.queries import QUERIES

    for name in ("token_count", "fingerprint", "simhash"):
        fn, _ = QUERIES[name]
        plan = plan_of(fn(spark, SF))
        # documents has (doc_id, text, lang, source, n_chars); only the
        # first two may be read
        scan = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan, f"{name}: no parquet scan found"
        for line in scan:
            assert "lang" not in line and "source" not in line, (name, line)


def test_knn_query_filter_pushed_to_scan(spark):
    from gelly_streaming_spark.queries import QUERIES

    fn, _ = QUERIES["knn_bruteforce"]
    plan = plan_of(fn(spark, SF))
    # the vec_id % 100 = 0 query-subset predicate must reach the scan
    # (DataFilters), not run as a post-scan filter only
    assert any(
        "DataFilters" in line and "% 100" in line
        for line in plan.splitlines()
    ), plan[:2000]


def test_triangle_estimate_has_no_python_and_no_collect(spark):
    """The r1 invariant violation, pinned: the sampled estimator is a
    pure JVM plan — no Arrow/Python stages, no driver materialization
    (toPandas would not appear in a plan at all; Python stages would
    as ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""
    from gelly_streaming_spark.queries import QUERIES

    fn, _ = QUERIES["triangle_estimate"]
    plan = plan_of(fn(spark, SF)).lower()
    for marker in ("pythonudf", "arroweval", "mapinpandas", "flatmapgroupsinpandas"):
        assert marker not in plan, marker


def test_no_pinned_broadcast_on_unbounded_sides(spark):
    """dbh/jaccard/hdrf_scalable must not carry a ResolvedHint forcing
    a broadcast of an O(V)/O(n_docs) side (ADVICE r1): AQE may still
    CHOOSE to broadcast at this size, but nothing may pin it."""
    from gelly_streaming_spark.operators.partitioning import dbh, hdrf_scalable
    from gelly_streaming_spark.functions.dedup import jaccard_pairs
    from gelly_streaming_spark.queries import _t, edges_from_events

    edges = edges_from_events(spark, SF)
    docs = _t(spark, SF, "documents")
    for name, df in (
        ("dbh", dbh(edges, 8)),
        ("hdrf_scalable", hdrf_scalable(edges, 8)),
        ("jaccard", jaccard_pairs(docs, threshold=0.9)),
    ):
        logical = df._jdf.queryExecution().logical().toString().lower()
        assert "unresolvedhint" not in logical and "resolvedhint" not in logical, name


def test_degree_agg_has_mapside_partial(spark):
    from gelly_streaming_spark.queries import QUERIES

    fn, _ = QUERIES["degree"]
    plan = plan_of(fn(spark, SF))
    assert "partial_count" in plan


def test_simhash_zero_shuffle_without_tp(spark):
    """The simhash signature itself is a scan -> project pipeline; the
    only exchange in the registry query is the documented _tp
    repartition for single-row-group sandbox files."""
    from gelly_streaming_spark.functions.dedup import simhash
    from gelly_streaming_spark.queries import _t

    df = simhash(_t(spark, SF, "documents"))
    plan = plan_of(df)
    assert "Exchange" not in plan, plan[:1500]


def test_pds_partition_single_projection(spark):
    from gelly_streaming_spark.operators.partitioning import pds_partition
    from gelly_streaming_spark.queries import edges_from_events

    plan = plan_of(pds_partition(edges_from_events(spark, SF), 7))
    assert "Exchange" not in plan and "Join" not in plan


def test_bucketed_rank_serial_window_is_buckets_only(spark):
    """bucketed_rank's single-partition window must run over the
    bucket-count frame, not the data: the data-side window is
    partitioned by bucket."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.operators.rank import bucketed_rank
    from gelly_streaming_spark.queries import edges_from_events

    e = edges_from_events(spark, SF)
    plan = plan_of(bucketed_rank(e, F.col("ts"), ["ts", "src", "dst"]))
    # exactly one global (empty-partition-spec) window, over the
    # aggregated counts
    import re

    windows = [l for l in plan.splitlines() if re.search(r"\bWindow\b", l)]
    assert len(windows) == 2, windows
    # partitioned data window: spec starts "(_b#N, ..." (partition col
    # then order cols); the serial one orders BY _b with no partition:
    # "(_b#N ASC ..." — and it must be the offsets window (sum over
    # bucket counts), never row_number over data
    serial = [l for l in windows if re.search(r"windowspecdefinition\(_b#\d+ ASC", l)]
    assert len(serial) == 1 and "sum(_n" in serial[0], windows


def test_iterative_plans_stay_jvm_side(spark):
    """sssp / community_lpa are pure Catalyst iterations: no Python
    stages, no pinned BROADCAST hints anywhere in a round (the edge
    frame and round frontiers are checkpointed RDD scans). The merge
    hint on the edge side is the one deliberate hint (PLANS.md r4): it
    pins the scale-safe shuffle join against checkpoint-preserved size
    under-estimates — the OPPOSITE of pinning a broadcast — and must
    be present in every round's join."""
    from gelly_streaming_spark.queries import QUERIES

    for name in ("sssp", "sssp_weighted", "community_lpa"):
        fn, _ = QUERIES[name]
        df = fn(spark, SF)
        plan = plan_of(df).lower()
        for marker in (
            "pythonudf", "arroweval", "mapinpandas", "flatmapgroupsinpandas",
        ):
            assert marker not in plan, (name, marker)
        logical = df._jdf.queryExecution().logical().toString().lower()
        assert "strategy=broadcast" not in logical, name
        assert "strategy=merge" in logical, name
        # and the physical rounds really are shuffle joins, never a
        # repeated broadcast of the edge frame
        assert "broadcasthashjoin" not in plan, name


def test_cooccurrence_cap_prefilters_the_join(spark):
    """The bucket cap must sit BELOW the self-join (an aggregate +
    filter on the build side), not above it — otherwise the k^2 fan-out
    happens before the guard. (The join formulation is deliberate:
    see the r4 note in cooccurrence_edges — a join-free explode
    carries a falsely-tiny size estimate through localCheckpoint and
    downstream consumers statically broadcast the edge frame.)"""
    from gelly_streaming_spark.queries import cooccurrence_edges

    df = cooccurrence_edges(spark, SF, max_bucket=7)
    opt = optimized_of(df)
    join_pos = opt.find("Join")
    assert join_pos >= 0
    # the aggregate count filter appears in the join's subtree (after
    # the first Join line in the tree print = inside its children)
    assert "bucket_n" in opt[join_pos:], opt[:500]


def test_repetition_and_pii_zero_shuffle(spark):
    """Both new document ops are scan -> project pipelines; the only
    exchange in their registry queries is the documented _tp
    repartition for single-row-group sandbox files."""
    from gelly_streaming_spark.functions.text import pii_stats, repetition_stats
    from gelly_streaming_spark.queries import _t

    docs = _t(spark, SF, "documents")
    for df in (repetition_stats(docs), pii_stats(docs)):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan[:1500]
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_document_frequency_caps_have_no_key_window(spark):
    """The hot-token, hot-shingle and hot-bucket caps count frequency
    with an aggregate joined back, never a window partitioned on the
    capped key: such a window puts every row of the hottest key into
    one straggler task, where the aggregate combines map-side. The
    co-occurrence bucket cap is reached through ``triangle_count``,
    the RHP band cap through ``rhp_neardup``."""
    import re

    from gelly_streaming_spark.queries import QUERIES

    cases = (
        ("jaccard_pairs", "tok"),
        ("contamination", "shingle"),
        ("triangle_count", "event_type"),
        ("minhash_lsh_pairs", "band_hash"),
        ("rhp_neardup", "band_sig"),
    )
    keyed = {}
    for name, key in cases:
        plan = plan_of(QUERIES[name][0](spark, SF))
        keyed[name] = [
            l for l in plan.splitlines()
            if re.search(r"\bWindow\b", l)
            and re.search(rf"\[[^\[\]]*\b{key}#\d+[^\[\]]*\]\s*$", l)
        ]
    assert keyed == {name: [] for name, _ in cases}, keyed


def test_graph_aggregation_has_one_combine_stage(spark):
    """EdgeStream.aggregate runs one sharded fold and ONE single-group
    combine (which also finalizes) at every shard count — the
    reference's parallel fold + parallelism-1 Merger. A merge tree of
    32 shards would add combine levels, and the spanner's k² stretch
    bound only holds after a single merge level."""
    from gelly_streaming_spark import fixtures
    from gelly_streaming_spark.edges import EdgeStream
    from gelly_streaming_spark.plans import ConnectedComponents

    edges = spark.createDataFrame(
        fixtures.edges_pdf(fixtures.SAMPLE_GRAPH),
        schema="src long, dst long, val long, ts timestamp",
    )
    opt = optimized_of(
        EdgeStream(edges).aggregate(ConnectedComponents(), num_shards=32)
    )
    assert opt.count("FlatMapGroupsInPandas") == 2, opt


def test_sharded_fold_plan_raises_no_user_warning(spark):
    """Building the fold stage must not warn: applyInPandas tries to
    infer the UDF's eval type from its type hints and warns ("Cannot
    infer the eval type") on every call whose callback annotates only
    some of its parameters."""
    import warnings

    from gelly_streaming_spark import fixtures
    from gelly_streaming_spark.operators.aggregation import sharded_fold
    from gelly_streaming_spark.plans import ConnectedComponents

    edges = spark.createDataFrame(
        fixtures.edges_pdf(fixtures.SAMPLE_GRAPH),
        schema="src long, dst long, val long, ts timestamp",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        partials = sharded_fold(edges, ConnectedComponents(), num_shards=4)
    assert "FlatMapGroupsInPandas" in optimized_of(partials)
