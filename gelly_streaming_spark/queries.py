"""The query registry: every implemented operator as a (spark_fn,
oracle_sql) pair over the driver's parquet tables.

``QUERIES[name] = (fn, sql_or_None)`` where ``fn(spark, sf_dir) ->
DataFrame`` and ``sql`` is the exact ANSI-SQL twin DuckDB runs on the
same tables (views: region nation customer supplier part orders
lineitem events documents embeddings). Names/aliases match column-
for-column; results are engineered to hash-match (md5-derived integer
hashes, doubles only as single divisions of exact ints, UTC-epoch-
aligned windows).

Graph queries derive an edge stream from ``events``:
``src = user_id``, ``dst = -hash60(event_type)`` (negative so the two
vertex families can't collide), ``val = cents(value)``, event-time =
``ts`` — the same derivation pattern as the transcript adapter
(BASELINE.json input_hint), expressed over the driver's tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gelly_streaming_spark.edges import EdgeStream
from gelly_streaming_spark.functions import curation as cu
from gelly_streaming_spark.functions import dedup as dd
from gelly_streaming_spark.functions import multimodal as mm
from gelly_streaming_spark.functions import similarity as sim
from gelly_streaming_spark.functions import text as tx
from gelly_streaming_spark.functions.buckets import bucket_pairs, cap_report
from gelly_streaming_spark.plans import triangles as tri
from gelly_streaming_spark.plans.bipartiteness import BipartitenessCheck
from gelly_streaming_spark.plans.connected_components import ConnectedComponents
from gelly_streaming_spark.plans.degree_check import degree_check
from gelly_streaming_spark.plans.degree_distribution import degree_distribution
from gelly_streaming_spark.plans.matching import greedy_matching
from gelly_streaming_spark.plans.community import (
    label_propagation,
    sql_label_propagation,
)
from gelly_streaming_spark.plans.pagerank import pagerank, sql_pagerank
from gelly_streaming_spark.plans.spanner import Spanner
from gelly_streaming_spark.plans.sssp import sql_sssp, sssp

from gelly_streaming_spark.functions.hashing import DUCK60, HASH60

# 60-bit md5 hash, Spark SQL side + the DuckDB twin (canonical pair
# in functions/hashing.py — the determinism backbone of every oracle)
H60 = HASH60

# ---------------------------------------------------------------------------
# shared loaders / derivations
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``_t`` but spread across the cluster: the sandbox tables
    are single-row-group files that Spark reads as ONE partition,
    which would serialize CPU-heavy per-row work (md5 shingling,
    signature computation). At 100 TB inputs arrive with natural
    partitioning and this repartition is unnecessary; here its one
    small shuffle buys full-core parallelism for the compute-bound
    operators."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _utc(spark: SparkSession) -> None:
    # windows must be epoch-aligned in UTC to match DuckDB's tz-naive
    # time_bucket
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def edges_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events→edge-stream adapter (graph queries' input)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("src"),
        (-F.expr(H60.format(x="event_type"))).alias("dst"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("val"),
        "ts",
    )


# DuckDB twin of edges_from_events (CTE body).
SQL_EDGES = """edges AS (
  SELECT user_id AS src,
         -((('0x' || substr(md5(event_type), 1, 15))::UBIGINT)::BIGINT) AS dst,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS val,
         ts
  FROM events
)"""

SQL_ENDPOINTS = (
    "endpoints AS (SELECT src AS vertex FROM edges"
    " UNION ALL SELECT dst AS vertex FROM edges)"
)

SQL_ENDPOINTS_TS = (
    "endpoints_ts AS (SELECT src AS vertex, ts FROM edges"
    " UNION ALL SELECT dst AS vertex, ts FROM edges)"
)

# tokens CTE twin of text.with_tokens
SQL_TOKS = (
    "toks AS (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),"
    " '\\s+', ' ', 'g'), ' ') AS tokens FROM documents)"
)

# distinct tokens per doc (x) and document frequency per token (d):
# the shared base of the jaccard, df-stats and vocabulary twins
SQL_DOC_DF = f"""{SQL_TOKS},
x AS (SELECT doc_id, unnest(list_distinct(tokens)) AS tok FROM toks),
d AS (SELECT tok, count(*)::BIGINT AS df FROM x GROUP BY tok)"""

# twin of buckets.pair_volume: n*(n-1)/2 multiplied in DOUBLE, since the
# BIGINT multiply raises above n ~ 3.04e9
SQL_PAIR_VOLUME = "{n}::DOUBLE * ({n} - 1) / 2"


def _user_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, wb): the distinct users of each
    (event_type, 1-hour bucket), the co-occurrence join's buckets."""
    _utc(spark)
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", F.window("ts", "1 hour")["start"].alias("wb"))
        .distinct()
    )


COOC_MAX_BUCKET = 1000


def cooccurrence_edges(
    spark: SparkSession, sf_dir: str, max_bucket: int = COOC_MAX_BUCKET
) -> DataFrame:
    """User–user co-occurrence graph: an edge (a < b) per (event_type,
    1-hour bucket) both users touched; ts = the bucket start. The
    unipartite graph for triangle/matching queries.

    The self-join emits k² pairs per (event_type, hour) bucket, so a
    single hot bucket with 10⁵ users would emit 10¹⁰ pairs at 100×
    scale (VERDICT r2 #2 — the one uncapped quadratic). ``max_bucket``
    drops buckets with more than that many distinct users BEFORE the
    join — the same guard as ``dedup.minhash_lsh_pairs``. The cap is
    mirrored in the DuckDB oracle twin (SQL_COOC) so hashes match at
    ANY scale; at the test scales nothing is dropped (sf0.01 max
    bucket = 10 users, sf0.1 max = 51). Dropped buckets are
    observable, not silent: ``cooccurrence_bucket_stats`` reports
    per-bucket sizes and the dropped set."""
    # Plan-shape note (r4, measured): a join-free formulation — one
    # groupBy(collect_set) + JVM-side pair explosion, 2 exchanges vs
    # this self-join's 4 — is ~1.5 s faster STANDALONE at sf0.1, but
    # Catalyst's Generate (explode) node does not scale its size
    # estimate by the fan-out, so the resulting frame carries a
    # falsely-tiny sizeInBytes THROUGH localCheckpoint (checkpoints
    # preserve origin stats) and every downstream consumer that joins
    # it statically plans a BroadcastHashJoin with the 10⁶-row edge
    # frame as build side — AQE cannot revisit a leaf broadcast, and
    # sssp/community rounds regressed 1.3-2 s -> 3.6-7 s each
    # (verified via explain: SortMergeJoin under this formulation,
    # BroadcastExchange under the explode one). The self-join's
    # honest stats are worth more than the two saved exchanges.
    ue = _user_buckets(spark, sf_dir)
    return (
        bucket_pairs(ue, "user_id", ["event_type", "wb"], max_bucket)
        .select(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
            F.col("a.wb").alias("ts"),
        )
        .distinct()
        .withColumn("val", F.lit(1).cast("long"))
    )


# twin of _user_buckets
SQL_USER_BUCKETS = """ue0 AS (SELECT DISTINCT user_id, event_type,
                       time_bucket(INTERVAL '1 hour', ts) AS wb
                FROM events)"""

SQL_COOC = f"""{SQL_USER_BUCKETS},
ue AS MATERIALIZED (SELECT user_id, event_type, wb FROM ue0
  QUALIFY count(*) OVER (PARTITION BY event_type, wb) <= {COOC_MAX_BUCKET}),
cooc AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst, a.wb AS ts
  FROM ue a JOIN ue b
    ON a.event_type = b.event_type AND a.wb = b.wb AND a.user_id < b.user_id
)"""


def cooccurrence_bucket_stats(
    spark: SparkSession, sf_dir: str, max_bucket: int = COOC_MAX_BUCKET
) -> DataFrame:
    """Occupancy/drop report for the co-occurrence bucket cap (the
    ``band_occupancy`` pattern: no silent caps). One row per
    (event_type, hour bucket): distinct-user count, the k² pair
    volume it would emit, and whether the cap drops it."""
    return cap_report(
        _user_buckets(spark, sf_dir), ["event_type", "wb"], "users", max_bucket
    )


SQL_COOC_BUCKET_STATS = f"""WITH {SQL_USER_BUCKETS},
g AS (SELECT event_type, wb, count(*)::BIGINT AS users
      FROM ue0 GROUP BY 1, 2)
SELECT event_type, wb, users, {SQL_PAIR_VOLUME.format(n="users")} AS pairs,
       users > {COOC_MAX_BUCKET} AS dropped
FROM g"""


# ---------------------------------------------------------------------------
# graph operator queries (events-derived edge stream)
# ---------------------------------------------------------------------------


def q_degree(spark, sf_dir):
    return EdgeStream(edges_from_events(spark, sf_dir)).get_degrees()


SQL_DEGREE = f"""WITH {SQL_EDGES}, {SQL_ENDPOINTS}
SELECT vertex, count(*)::BIGINT AS degree FROM endpoints GROUP BY vertex"""


def q_degree_inout(spark, sf_dir):
    e = edges_from_events(spark, sf_dir)
    ev = e.select(
        F.col("src").alias("vertex"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionAll(
        e.select(F.col("dst").alias("vertex"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    return ev.groupBy("vertex").agg(
        F.sum("o").cast("long").alias("out_degree"),
        F.sum("i").cast("long").alias("in_degree"),
    )


SQL_DEGREE_INOUT = f"""WITH {SQL_EDGES},
ev AS (SELECT src AS vertex, 1 AS o, 0 AS i FROM edges
       UNION ALL SELECT dst, 0, 1 FROM edges)
SELECT vertex, sum(o)::BIGINT AS out_degree, sum(i)::BIGINT AS in_degree
FROM ev GROUP BY vertex"""


def q_windowed_degree(spark, sf_dir):
    _utc(spark)
    return degree_check(edges_from_events(spark, sf_dir), "1 day")


SQL_WINDOWED_DEGREE = f"""WITH {SQL_EDGES},
ev AS (SELECT src AS vertex, ts FROM edges UNION ALL SELECT dst, ts FROM edges)
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS win_end,
       vertex, count(*)::BIGINT AS degree
FROM ev GROUP BY 1, 2, 3"""


def q_sliding_degree(spark, sf_dir):
    """Sliding-window (1 day / 12 h hop) degree per vertex — each
    event counts in size/slide = 2 panes."""
    _utc(spark)
    e = edges_from_events(spark, sf_dir)
    ev = e.select(F.explode(F.array("src", "dst")).alias("vertex"), "ts")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("win"), "vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "vertex",
            "degree",
        )
    )


SQL_SLIDING_DEGREE = f"""WITH {SQL_EDGES},
ev AS (SELECT src AS vertex, ts FROM edges UNION ALL SELECT dst, ts FROM edges),
panes AS (
  SELECT vertex,
         time_bucket(INTERVAL '12 hours', ts) - o * INTERVAL '12 hours' AS win_start
  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS o) oo
)
SELECT win_start, win_start + INTERVAL '1 day' AS win_end,
       vertex, count(*)::BIGINT AS degree
FROM panes GROUP BY 1, 2, 3"""


def q_global_aggregate(spark, sf_dir):
    """globalAggregate parity: whole-stream min/max/sum over edge
    values + edge count, one row."""
    e = EdgeStream(edges_from_events(spark, sf_dir))
    return e.global_aggregate(
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.sum("val").alias("sum_val"),
        F.count(F.lit(1)).alias("n_edges"),
    )


SQL_GLOBAL_AGGREGATE = f"""WITH {SQL_EDGES}
SELECT min(val) AS min_val, max(val) AS max_val,
       sum(val)::BIGINT AS sum_val, count(*)::BIGINT AS n_edges
FROM edges"""


def q_vertex_aggregate(spark, sf_dir):
    """Generic aggregate(edgeMapper, vertexMapper) parity: per-vertex
    sum of edge values over both endpoints."""
    e = EdgeStream(edges_from_events(spark, sf_dir))
    return e.aggregate_on_vertices(
        F.col("val"), F.sum("value").cast("long"), direction="all"
    ).withColumnRenamed("value", "total_val")


SQL_VERTEX_AGGREGATE = f"""WITH {SQL_EDGES},
ev AS (SELECT src AS vertex, val FROM edges UNION ALL SELECT dst, val FROM edges)
SELECT vertex, sum(val)::BIGINT AS total_val FROM ev GROUP BY vertex"""


def q_vertices(spark, sf_dir):
    return EdgeStream(edges_from_events(spark, sf_dir)).get_vertices()


SQL_VERTICES = f"""WITH {SQL_EDGES}, {SQL_ENDPOINTS}
SELECT DISTINCT vertex AS vertex_id FROM endpoints"""


def q_num_entities(spark, sf_dir):
    e = edges_from_events(spark, sf_dir)
    v = e.select(F.explode(F.array("src", "dst")).alias("vertex")).agg(
        F.count_distinct("vertex").alias("n_vertices")
    )
    return v.crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))


SQL_NUM_ENTITIES = f"""WITH {SQL_EDGES}, {SQL_ENDPOINTS}
SELECT (SELECT count(DISTINCT vertex) FROM endpoints)::BIGINT AS n_vertices,
       (SELECT count(*) FROM edges)::BIGINT AS n_edges"""


def q_distinct_edges(spark, sf_dir):
    return (
        EdgeStream(edges_from_events(spark, sf_dir))
        .distinct()
        .get_edges()
        .select("src", "dst")
    )


SQL_DISTINCT_EDGES = f"""WITH {SQL_EDGES}
SELECT DISTINCT src, dst FROM edges"""


def q_canonical_undirected(spark, sf_dir):
    return (
        EdgeStream(edges_from_events(spark, sf_dir))
        .undirected()
        .canonical()
        .distinct()
        .get_edges()
        .select("src", "dst")
    )


SQL_CANONICAL_UNDIRECTED = f"""WITH {SQL_EDGES}
SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst FROM edges"""


def q_neighborhood(spark, sf_dir):
    e = edges_from_events(spark, sf_dir)
    return e.groupBy("src").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("dst"))).alias("neighbors")
    )


SQL_NEIGHBORHOOD = f"""WITH {SQL_EDGES}
SELECT src, array_to_string(list_sort(list(DISTINCT dst)), ',') AS neighbors
FROM edges GROUP BY src"""


def q_slice_reduce(spark, sf_dir):
    _utc(spark)
    s = EdgeStream(edges_from_events(spark, sf_dir)).slice("1 day", "out")
    out = s.reduce_on_edges(F.sum("val").cast("long"))
    return out.select(
        F.col("win.start").alias("win_start"), "vertex", F.col("value").alias("total_val")
    )


SQL_SLICE_REDUCE = f"""WITH {SQL_EDGES}
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, src AS vertex,
       sum(val)::BIGINT AS total_val
FROM edges GROUP BY 1, 2"""


def q_edge_transforms(spark, sf_dir):
    """The stateless operator chain under the oracle (previously
    pytest-only): mapEdges(2·val) → filterEdges(val > 500) →
    filterVertices(even ids) → reverse (SimpleEdgeStream.java:201-345
    semantics, composed)."""
    es = (
        EdgeStream(edges_from_events(spark, sf_dir))
        .map_edges(F.col("val") * 2)
        .filter_edges(F.col("val") > 500)
        .filter_vertices(lambda c: (c % 2) == 0)
        .reverse()
    )
    return es.get_edges().select("src", "dst", "val")


SQL_EDGE_TRANSFORMS = f"""WITH {SQL_EDGES}
SELECT dst AS src, src AS dst, val * 2 AS val
FROM edges
WHERE val * 2 > 500 AND (src % 2) = 0 AND (dst % 2) = 0"""


def q_union_graphs(spark, sf_dir):
    """union() parity (bag union, no dedup — SimpleEdgeStream.java:
    327-329): degrees over events-graph ∪ cooccurrence-graph."""
    a = EdgeStream(edges_from_events(spark, sf_dir))
    b = EdgeStream(cooccurrence_edges(spark, sf_dir).select("src", "dst", "val", "ts"))
    return a.union(b).get_degrees()


SQL_UNION_GRAPHS = f"""WITH {SQL_EDGES}, {SQL_COOC},
u AS (SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM cooc),
ev AS (SELECT src AS vertex FROM u UNION ALL SELECT dst FROM u)
SELECT vertex, count(*)::BIGINT AS degree FROM ev GROUP BY vertex"""


def q_slice_apply(spark, sf_dir):
    """applyOnNeighbors (GraphWindowStream.java:130-182) through the
    Arrow grouped-map path, hash-checked: per (1-day pane, vertex)
    emit distinct-neighbor count + max edge value."""
    import pandas as pd  # noqa: F811

    _utc(spark)
    s = EdgeStream(edges_from_events(spark, sf_dir)).slice("1 day", "out")

    def apply_fn(key, pdf):
        return pd.DataFrame(
            {
                "win_start": [key[0]["start"]],
                "vertex": [key[1]],
                "n_neighbors": [int(pdf["dst"].nunique())],
                "max_val": [int(pdf["val"].max())],
            }
        )

    return s.apply_on_neighbors(
        apply_fn,
        "win_start timestamp, vertex long, n_neighbors long, max_val long",
    )


SQL_SLICE_APPLY = f"""WITH {SQL_EDGES}
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, src AS vertex,
       count(DISTINCT dst)::BIGINT AS n_neighbors, max(val)::BIGINT AS max_val
FROM edges GROUP BY 1, 2"""


def q_degree_trace(spark, sf_dir):
    """The reference's per-update degree trace
    (TestGetDegrees.java:57-121): one row per degree event with the
    running count. Within-ts tie order is arbitrary but the emitted
    ROW MULTISET is deterministic, so the order-insensitive hash
    check is exact."""
    return EdgeStream(edges_from_events(spark, sf_dir)).degree_trace()


SQL_DEGREE_TRACE = f"""WITH {SQL_EDGES}, {SQL_ENDPOINTS_TS}
SELECT vertex,
       count(*) OVER (PARTITION BY vertex ORDER BY ts
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS degree,
       ts
FROM endpoints_ts"""


def q_connected_components(spark, sf_dir):
    e = edges_from_events(spark, sf_dir)
    return EdgeStream(e).aggregate(ConnectedComponents(vertex_type="long"))


# the recursive reachability walk over a symmetric edge CTE sym(a, b):
# min(comp) per v is v's connected-component id (the min vertex id)
SQL_WALK = """walk(v, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.v
)"""

SQL_CONNECTED_COMPONENTS = f"""WITH RECURSIVE {SQL_EDGES},
de AS (SELECT DISTINCT src, dst FROM edges),
sym AS (SELECT src AS a, dst AS b FROM de UNION SELECT dst, src FROM de),
{SQL_WALK}
SELECT v AS vertex, min(comp) AS component FROM walk GROUP BY v"""


def q_connected_components_scalable(spark, sf_dir):
    """Funnel-free CC (sharded fold + distributed quotient
    resolution) — the production path; same output, same oracle."""
    from gelly_streaming_spark.plans.connected_components import (
        connected_components,
    )

    return connected_components(edges_from_events(spark, sf_dir), num_shards=32)


def q_bipartiteness(spark, sf_dir):
    e = edges_from_events(spark, sf_dir)
    return EdgeStream(e).aggregate(BipartitenessCheck())


SQL_BIPARTITENESS = f"""WITH RECURSIVE {SQL_EDGES},
de AS (SELECT DISTINCT src, dst FROM edges),
sym AS (SELECT src AS a, dst AS b FROM de UNION SELECT dst, src FROM de),
{SQL_WALK},
comps AS (SELECT v, min(comp) AS comp FROM walk GROUP BY v),
anchors AS (SELECT DISTINCT comp FROM comps),
walk2(v, color) AS (
  SELECT comp, 0 FROM anchors
  UNION
  SELECT s.b, 1 - w.color FROM walk2 w JOIN sym s ON s.a = w.v
),
colors AS (SELECT v, min(color) AS color FROM walk2 GROUP BY v),
flag AS (SELECT (max(c) = 1) AS ok
         FROM (SELECT v, count(DISTINCT color) AS c FROM walk2 GROUP BY v))
SELECT colors.v AS vertex, CAST(colors.color AS INT) AS color,
       flag.ok AS is_bipartite
FROM colors, flag"""


def q_degree_distribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sedges = ev.select(
        F.col("user_id").alias("src"),
        (-F.expr(H60.format(x="event_type"))).alias("dst"),
        F.when(F.col("event_type") == "error", F.lit("-")).otherwise(F.lit("+")).alias("op"),
        "ts",
    )
    return degree_distribution(sedges)


# per-update floor: y_t = max(0, S_t - min(0, min_{k<t} S_k)) — the
# Lindley-recursion closed form, same window math as the Spark side
SQL_DEGREE_DISTRIBUTION = """WITH ev AS (
  SELECT user_id AS src,
         -((('0x' || substr(md5(event_type), 1, 15))::UBIGINT)::BIGINT) AS dst,
         CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS delta,
         ts
  FROM events
),
x AS (SELECT src AS vertex, delta, ts FROM ev
      UNION ALL SELECT dst, delta, ts FROM ev),
t AS (SELECT vertex,
             sum(delta) OVER (PARTITION BY vertex ORDER BY ts, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS s,
             row_number() OVER (PARTITION BY vertex ORDER BY ts, delta DESC)
               AS rn
      FROM x),
y AS (SELECT vertex, rn,
             greatest(0, s - least(0, coalesce(
               min(s) OVER (PARTITION BY vertex ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0))) AS degree
      FROM t),
f AS (SELECT vertex, degree
      FROM (SELECT y.*, max(rn) OVER (PARTITION BY vertex) AS n FROM y)
      WHERE rn = n)
SELECT degree::BIGINT AS degree, count(*)::BIGINT AS n_vertices
FROM f WHERE degree > 0 GROUP BY degree"""


def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sess.start").alias("sess_start"), "n_events")
    )


SQL_SESSIONIZE = """WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts < lag(ts) OVER w + INTERVAL '1 hour' THEN 0 ELSE 1 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
SELECT user_id, min(ts) AS sess_start, count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sid"""


def q_session_stats(spark, sf_dir):
    """Per-user session rollup over the 1-hour-gap session windows —
    the conversation-level aggregate a transcript pipeline reports
    (sessions per conversation owner, events per session, busiest
    session). Derives from the SAME session_window frame the
    hash-matched `sessionize` query pins, then one partial-aggregated
    groupBy; avg is one double division of two exact BIGINTs."""
    sess = q_sessionize(spark, sf_dir)
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
        (
            F.sum("n_events").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_session_events"),
    )


SQL_SESSION_STATS = f"""WITH sess AS ({SQL_SESSIONIZE})
SELECT user_id,
       count(*)::BIGINT AS n_sessions,
       sum(n_events)::BIGINT AS total_events,
       max(n_events)::BIGINT AS max_session_events,
       CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS avg_session_events
FROM sess GROUP BY user_id"""


def q_triangle_count(spark, sf_dir):
    cooc = cooccurrence_edges(spark, sf_dir)
    return tri.triangle_list(cooc).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


SQL_TRIANGLE_COUNT = f"""WITH {SQL_COOC},
ce AS (SELECT DISTINCT src AS u, dst AS v FROM cooc)
SELECT count(*)::BIGINT AS n_triangles
FROM ce e1 JOIN ce e2 ON e1.v = e2.u
JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v"""


def q_triangle_local(spark, sf_dir):
    cooc = cooccurrence_edges(spark, sf_dir)
    return tri.exact_triangle_count(cooc)


SQL_TRIANGLE_LOCAL = f"""WITH {SQL_COOC},
ce AS (SELECT DISTINCT src AS u, dst AS v FROM cooc),
tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM ce e1 JOIN ce e2 ON e1.v = e2.u
         JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT vertex, count(*)::BIGINT AS n_triangles
FROM (SELECT a AS vertex FROM tris UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris)
GROUP BY vertex
UNION ALL
SELECT CAST(-1 AS BIGINT) AS vertex, count(*)::BIGINT AS n_triangles FROM tris"""


def q_window_triangles(spark, sf_dir):
    _utc(spark)
    cooc = cooccurrence_edges(spark, sf_dir)
    return tri.window_triangles(cooc, "1 day")


SQL_WINDOW_TRIANGLES = f"""WITH {SQL_COOC},
ced AS (SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS d, src AS u, dst AS v
        FROM cooc),
trid AS (SELECT e1.d, e1.u AS a, e1.v AS b, e2.v AS c
         FROM ced e1 JOIN ced e2 ON e2.d = e1.d AND e1.v = e2.u
         JOIN ced e3 ON e3.d = e1.d AND e3.u = e1.u AND e3.v = e2.v)
SELECT c.d AS win_start, c.d + INTERVAL '1 day' AS win_end,
       coalesce(t.n, 0)::BIGINT AS n_triangles
FROM (SELECT DISTINCT d FROM ced) c
LEFT JOIN (SELECT d, count(*) AS n FROM trid GROUP BY d) t USING (d)"""


def q_spanner(spark, sf_dir):
    # arrival-order dependent edge set -> rows-only check (oracle
    # would need to replicate fold order; properties are pinned in
    # tests/test_algorithms.py instead)
    e = edges_from_events(spark, sf_dir)
    return EdgeStream(e).aggregate(Spanner(k=3))


def q_spanner_components(spark, sf_dir):
    """Spanner correctness as a HASH-CHECKABLE invariant: a k-spanner
    preserves connectivity, so connected components computed on the
    spanner's edge set must equal components of the full graph — the
    oracle is the plain CC recursive CTE over ALL edges. (The spanner
    edge set itself stays rows-only: it is arrival-order dependent,
    like the reference's.)"""
    from gelly_streaming_spark.plans.connected_components import (
        connected_components,
    )

    sp = q_spanner(spark, sf_dir)
    return connected_components(sp, num_shards=8, vertex_type="long")


def q_matching(spark, sf_dir):
    cooc = cooccurrence_edges(spark, sf_dir)
    w = cooc.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("val"), F.min("ts").alias("ts")
    )
    return greedy_matching(w)


def q_matching_dominant(spark, sf_dir):
    """Distributed locally-dominant matching over the weighted cooc
    graph — the scale twin of the sequential ``matching`` parity op,
    with a full oracle (deterministic unrolled rounds)."""
    from gelly_streaming_spark.plans.matching import dominant_matching

    cooc = cooccurrence_edges(spark, sf_dir)
    w = cooc.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("val"))
    return dominant_matching(w, rounds=4)


def _sql_matching_dominant(rounds: int = 4) -> str:
    # every per-round CTE is MATERIALIZED: DuckDB inlines CTEs by
    # default, and each round references the previous frontier ~5x —
    # unmaterialized that is the same 5^rounds blow-up the Spark side
    # cuts with localCheckpoint
    ctes = [
        "w0 AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS val"
        " FROM cooc GROUP BY src, dst)"
    ]
    for r in range(rounds):
        ctes.append(
            f"""inc{r} AS MATERIALIZED (SELECT src AS vertex, src, dst, val FROM w{r}
        UNION ALL SELECT dst, src, dst, val FROM w{r}),
best{r} AS MATERIALIZED (SELECT vertex, src, dst FROM
            (SELECT *, row_number() OVER (PARTITION BY vertex
                                          ORDER BY val DESC, src, dst) AS rn
             FROM inc{r}) WHERE rn = 1),
dom{r} AS MATERIALIZED (SELECT e.src, e.dst, e.val FROM w{r} e
           JOIN best{r} bu ON bu.vertex = e.src AND bu.src = e.src
                          AND bu.dst = e.dst
           JOIN best{r} bv ON bv.vertex = e.dst AND bv.src = e.src
                          AND bv.dst = e.dst),
mv{r} AS MATERIALIZED (SELECT src AS vertex FROM dom{r} UNION SELECT dst FROM dom{r}),
w{r + 1} AS MATERIALIZED (SELECT e.* FROM w{r} e
             ANTI JOIN mv{r} a ON e.src = a.vertex
             ANTI JOIN mv{r} b ON e.dst = b.vertex)"""
        )
    doms = " UNION ALL ".join(
        f"SELECT src, dst, val FROM dom{r}" for r in range(rounds)
    )
    return f"WITH {SQL_COOC},\n" + ",\n".join(ctes) + f"\n{doms}"


SQL_MATCHING_DOMINANT = _sql_matching_dominant(4)


def q_sssp(spark, sf_dir):
    """Single-source shortest paths (hop distance) from the min user
    id over the co-occurrence graph — the faithful GSA-SSSP semantics
    (GSASSSPHash.java:116-141, unweighted edges gather neighbor + 1)
    at the reference's default maxIterations=5 (:180), which exceeds
    the graph's eccentricity at test scales (converged = true SSSP)."""
    return sssp(cooccurrence_edges(spark, sf_dir), rounds=5)


SQL_SSSP = sql_sssp(
    SQL_COOC
    + ",\nedges AS MATERIALIZED (SELECT src, dst,"
    " CAST(1 AS BIGINT) AS val FROM cooc)",
    rounds=5,
)


def q_sssp_weighted(spark, sf_dir):
    """val-weighted Bellman-Ford over the events-derived bipartite
    graph (user -> event-type nodes, val = cents): the weighted
    generalization of the reference's unit-cost gather. Fixed 8
    rounds — deterministic 'min cost within <= 8 relaxations' in both
    engines (and converged at test scales: see
    tests/test_algorithms.py fixpoint equality)."""
    return sssp(edges_from_events(spark, sf_dir), rounds=8, weighted=True)


SQL_SSSP_WEIGHTED = sql_sssp(SQL_EDGES, rounds=8, weighted=True)


def q_community_lpa(spark, sf_dir):
    """Synchronous label-propagation communities over the cooc graph
    (community.java:73 runs Gelly LabelPropagation(1); 3 unrolled
    rounds here exercise the iterated semantics, ties -> min label)."""
    return label_propagation(cooccurrence_edges(spark, sf_dir), rounds=3)


SQL_COMMUNITY_LPA = sql_label_propagation(
    SQL_COOC + ",\nedges AS MATERIALIZED (SELECT src, dst FROM cooc)",
    rounds=3,
)


def q_triangle_estimate(spark, sf_dir):
    cooc = cooccurrence_edges(spark, sf_dir)
    return tri.estimate_triangles(cooc, num_samplers=200)


# exact twin of estimate_triangles(num_samplers=200, seed=0xDEADBEEF):
# md5-seeded sampler choices + stream-index joins are engine-portable,
# so the sampled ESTIMATE itself is oracle-checkable (r1 had it
# rows-only behind a driver-side sampler loop).
_TRI_EST_SEED = 0xDEADBEEF
_TRI_EST_S = 200
_D60 = DUCK60
SQL_TRIANGLE_ESTIMATE = f"""WITH {SQL_COOC},
er AS (SELECT src, dst, row_number() OVER (ORDER BY ts, src, dst) - 1 AS eidx
       FROM cooc),
verts AS (SELECT DISTINCT vertex
          FROM (SELECT src AS vertex FROM cooc UNION ALL SELECT dst FROM cooc)),
vr AS (SELECT vertex,
              row_number() OVER (ORDER BY {_D60.format(x='vertex::VARCHAR')} % 256,
                                 vertex) - 1 AS vidx
       FROM verts),
pair_last AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
                     max(eidx) AS last_idx
              FROM er GROUP BY 1, 2),
tot AS (SELECT (SELECT count(*) FROM er) AS n_edges,
               (SELECT count(*) FROM verts) AS n_vertices),
sam AS (SELECT unnest(generate_series(0, {_TRI_EST_S - 1})) AS sid),
s0 AS (SELECT sid, n_edges, n_vertices,
              {_D60.format(x=f"'es|{_TRI_EST_SEED}|' || sid::VARCHAR")}
                % greatest(n_edges, 1) AS eidx,
              {_D60.format(x=f"'tv|{_TRI_EST_SEED}|' || sid::VARCHAR")}
                % greatest(n_vertices - 2, 1) AS r
       FROM sam CROSS JOIN tot),
s1 AS (SELECT s0.*, er.src AS a, er.dst AS b FROM s0 LEFT JOIN er USING (eidx)),
s2 AS (SELECT s1.*, va.vidx AS ia, vb.vidx AS ib
       FROM s1 LEFT JOIN vr va ON va.vertex = s1.a
       LEFT JOIN vr vb ON vb.vertex = s1.b),
s3 AS (SELECT s2.*,
              r + CASE WHEN r >= least(ia, ib) THEN 1 ELSE 0 END AS t1
       FROM s2),
s4 AS (SELECT s3.*,
              t1 + CASE WHEN t1 >= greatest(ia, ib) THEN 1 ELSE 0 END AS vidx
       FROM s3),
s5 AS (SELECT s4.*, vc.vertex AS c FROM s4 LEFT JOIN vr vc USING (vidx)),
s6 AS (SELECT s5.*, p1.last_idx AS last1, p2.last_idx AS last2
       FROM s5
       LEFT JOIN pair_last p1 ON p1.u = least(a, c) AND p1.v = greatest(a, c)
       LEFT JOIN pair_last p2 ON p2.u = least(b, c) AND p2.v = greatest(b, c)),
s7 AS (SELECT n_edges, n_vertices,
              CASE WHEN n_vertices > 2 AND last1 > eidx AND last2 > eidx
                   THEN 1 ELSE 0 END AS beta
       FROM s6)
SELECT n_edges::BIGINT AS n_edges, n_vertices::BIGINT AS n_vertices,
       CAST(sum(beta) * n_edges * (n_vertices - 2) AS DOUBLE) / {_TRI_EST_S}
         AS estimate
FROM s7 GROUP BY n_edges, n_vertices"""


def q_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficient over the co-occurrence
    graph — degree + local triangle count + the 2T/(d(d-1)) density as
    one exact-integer double division."""
    return tri.clustering_coefficient(cooccurrence_edges(spark, sf_dir))


SQL_CLUSTERING_COEFF = f"""WITH {SQL_COOC},
ce AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v FROM cooc),
deg AS (SELECT vertex, count(*)::BIGINT AS degree FROM
        (SELECT u AS vertex FROM ce UNION ALL SELECT v FROM ce)
        GROUP BY vertex),
tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM ce e1 JOIN ce e2 ON e1.v = e2.u
         JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v),
loc AS (SELECT vertex, count(*)::BIGINT AS n_triangles FROM
        (SELECT a AS vertex FROM tris UNION ALL SELECT b FROM tris
         UNION ALL SELECT c FROM tris) GROUP BY vertex)
SELECT d.vertex, d.degree,
       coalesce(l.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * coalesce(l.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN loc l ON l.vertex = d.vertex"""


def q_clustering_coeff_estimate(spark, sf_dir):
    """Wedge-sampling clustering-coefficient estimate — the
    dense-graph scale twin of `clustering_coeff` (VERDICT r4 #2:
    exact is Ω(#triangles); this is V·S + one equi-join at any
    density). Seeded, engine-portable, hash-checked."""
    return tri.clustering_coefficient_estimate(
        cooccurrence_edges(spark, sf_dir), samples_per_vertex=_CC_EST_S
    )


_CC_EST_S = 64
_CC_EST_SEED = 0xC0FFEE
_CCE_HA = DUCK60.format(
    x=f"'cw|{_CC_EST_SEED}|' || vertex::VARCHAR || '|' || s::VARCHAR || '|a'"
)
_CCE_HB = DUCK60.format(
    x=f"'cw|{_CC_EST_SEED}|' || vertex::VARCHAR || '|' || s::VARCHAR || '|b'"
)
SQL_CLUSTERING_COEFF_ESTIMATE = f"""WITH {SQL_COOC},
ce AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v FROM cooc),
sym AS (SELECT u AS vertex, v AS nbr FROM ce UNION ALL SELECT v, u FROM ce),
adj AS MATERIALIZED (
  SELECT vertex, list_sort(list(DISTINCT nbr)) AS nbrs,
         count(DISTINCT nbr)::BIGINT AS degree
  FROM sym GROUP BY vertex),
sam AS (SELECT unnest(generate_series(0, {_CC_EST_S - 1})) AS s),
w AS (SELECT vertex, degree, nbrs, s,
             {_CCE_HA} % degree AS i,
             {_CCE_HB} % (degree - 1) AS j0
      FROM adj CROSS JOIN sam WHERE degree >= 2),
p AS (SELECT vertex, degree, least(na, nb) AS pu, greatest(na, nb) AS pv
      FROM (SELECT vertex, degree,
                   nbrs[(i + 1)::INT] AS na,
                   nbrs[(j0 + CASE WHEN j0 >= i THEN 1 ELSE 0 END + 1)::INT]
                     AS nb
            FROM w)),
c AS (SELECT p.vertex, p.degree,
             sum(CASE WHEN e2.u IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_closed
      FROM p LEFT JOIN ce e2 ON e2.u = p.pu AND e2.v = p.pv
      GROUP BY 1, 2)
SELECT vertex, degree, n_closed,
       CAST(n_closed AS DOUBLE) / {float(_CC_EST_S)} AS coeff_est
FROM c
UNION ALL
SELECT vertex, degree, CAST(0 AS BIGINT) AS n_closed, 0.0 AS coeff_est
FROM adj WHERE degree < 2"""


def q_pagerank(spark, sf_dir):
    """Fixed-point PageRank (3 power-iteration rounds, damping 0.85)
    over the undirected co-occurrence graph — BIGINT fixed-point
    arithmetic end-to-end so the unrolled-CTE oracle hash-matches
    (no accumulated float sums; see plans/pagerank.py)."""
    return pagerank(cooccurrence_edges(spark, sf_dir), rounds=3)


SQL_PAGERANK = sql_pagerank(
    SQL_COOC + ",\nedges AS MATERIALIZED (SELECT src, dst FROM cooc)",
    rounds=3,
)


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------


def q_token_count(spark, sf_dir):
    return tx.token_count(_tp(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = f"""WITH {SQL_TOKS}
SELECT doc_id, len(tokens)::BIGINT AS n_tokens FROM toks"""


def q_bpe_token_count(spark, sf_dir):
    return tx.bpe_ish_token_count(_tp(spark, sf_dir, "documents"))


SQL_BPE_TOKEN_COUNT = """SELECT doc_id,
  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT
    AS n_subtokens
FROM documents"""


def q_quality(spark, sf_dir):
    return tx.quality_scores(_tp(spark, sf_dir, "documents"))


_SW = ", ".join(f"'{w}'" for w in tx.STOPWORDS)
SQL_QUALITY = f"""WITH {SQL_TOKS},
q AS (
  SELECT d.doc_id,
         length(d.text)::BIGINT AS n_chars,
         len(t.tokens)::BIGINT AS n_tokens,
         len(list_filter(t.tokens, x -> x IN ({_SW})))::BIGINT AS n_stopwords,
         (length(d.text) - length(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')))::BIGINT AS n_punct
  FROM documents d JOIN toks t USING (doc_id)
)
SELECT doc_id, n_chars, n_tokens, n_stopwords, n_punct,
       n_stopwords::DOUBLE / greatest(n_tokens, 1)::DOUBLE AS stopword_frac,
       CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
                  AND n_punct * 5 <= n_chars THEN 2
                 WHEN n_tokens >= 5 THEN 1 ELSE 0 END AS INT) AS quality_bucket
FROM q"""


def q_lang_id(spark, sf_dir):
    return tx.lang_id(_tp(spark, sf_dir, "documents"))


def _sql_markers(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in tx.LANG_MARKERS[lang])


SQL_LANG_ID = f"""WITH {SQL_TOKS},
h AS (
  SELECT doc_id,
         len(list_filter(tokens, x -> x IN ({_sql_markers('en')})))::BIGINT AS en_hits,
         len(list_filter(tokens, x -> x IN ({_sql_markers('es')})))::BIGINT AS es_hits,
         len(list_filter(tokens, x -> x IN ({_sql_markers('fr')})))::BIGINT AS fr_hits
  FROM toks
)
SELECT doc_id, en_hits, es_hits, fr_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM h"""


def q_fingerprint(spark, sf_dir):
    return tx.fingerprint(_tp(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """SELECT doc_id,
  list_min(list_transform(generate_series(1, greatest(1, length(text) - 7)),
                          i -> md5(substr(text, i, 8)))) AS fp
FROM documents"""


def q_repetition(spark, sf_dir):
    return tx.repetition_stats(_tp(spark, sf_dir, "documents"))


SQL_REPETITION = f"""WITH {SQL_TOKS},
b AS (SELECT doc_id, tokens,
        [tokens[i] || ' ' || tokens[i+1]
         for i in generate_series(1, len(tokens) - 1)] AS bigrams
      FROM toks),
c AS (SELECT doc_id,
        len(tokens)::BIGINT AS n_tokens,
        len(list_distinct(tokens))::BIGINT AS n_distinct_tokens,
        len(bigrams)::BIGINT AS n_bigrams,
        len(list_distinct(bigrams))::BIGINT AS n_distinct_bigrams
      FROM b)
SELECT *,
       n_distinct_tokens::DOUBLE / greatest(n_tokens, 1)::DOUBLE
         AS distinct_token_frac,
       n_distinct_bigrams::DOUBLE / greatest(n_bigrams, 1)::DOUBLE
         AS distinct_bigram_frac
FROM c"""


# The fixture corpus contains no PII (word-soup text), so the pii_stats
# registry query salts in deterministic synthetic PII keyed on doc_id —
# identical expression in both engines — so the cross-engine regex
# semantics (Java regex vs RE2) are exercised on real matches rather
# than vacuous zeros. Variant 4 stays clean (counts 0 still covered).
_PII_AUG_SPARK = (
    "concat(text, CASE CAST(doc_id % 5 AS INT)"
    " WHEN 0 THEN concat(' contact user', CAST(doc_id AS STRING),"
    " '@mail.example.com')"
    " WHEN 1 THEN concat(' call +1 (202) 555-',"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    " WHEN 2 THEN concat(' host 10.', CAST(doc_id % 256 AS STRING),"
    " '.3.', CAST(doc_id * 7 % 256 AS STRING))"
    " WHEN 3 THEN concat(' ref ', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'),"
    " '-', lpad(CAST(doc_id % 100 AS STRING), 2, '0'),"
    " '-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    " ELSE '' END)"
)

_PII_AUG_SQL = (
    "text || CASE CAST(doc_id % 5 AS INT)"
    " WHEN 0 THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com'"
    " WHEN 1 THEN ' call +1 (202) 555-' ||"
    " lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " WHEN 2 THEN ' host 10.' || (doc_id % 256)::VARCHAR ||"
    " '.3.' || (doc_id * 7 % 256)::VARCHAR"
    " WHEN 3 THEN ' ref ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||"
    " '-' || lpad((doc_id % 100)::VARCHAR, 2, '0') ||"
    " '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " ELSE '' END"
)


def q_pii_stats(spark, sf_dir):
    """Per-document PII hit counts + redaction length delta over the
    synthetically-salted corpus (see _PII_AUG_SPARK above)."""
    docs = _tp(spark, sf_dir, "documents")
    return tx.pii_stats(docs.withColumn("text", F.expr(_PII_AUG_SPARK)))


def _sql_pii_stats() -> str:
    p = tx.PII_PATTERNS  # insertion order == redaction order
    counts = ",\n  ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{k}"
        for k, pat in p.items()
    )
    red = "text"
    for pat in p.values():
        red = f"regexp_replace({red}, '{pat}', '<PII>', 'g')"
    total = " + ".join(f"n_{k}" for k in p)
    return f"""WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
),
c AS (
  SELECT doc_id,
  {counts},
  (length(text) - length({red}))::BIGINT AS redact_delta
  FROM aug
)
SELECT doc_id, {', '.join('n_' + k for k in p)},
       ({total})::BIGINT AS pii_total, redact_delta
FROM c"""


SQL_PII_STATS = _sql_pii_stats()


def q_pii_redacted(spark, sf_dir):
    """Full redaction output over the salted corpus (VERDICT r4 #4):
    the redacted TEXT itself is hash-checked against DuckDB's
    regexp_replace chain — string equality, not just the length delta
    pii_stats pins — so Java-regex vs RE2 replacement semantics are
    verified end to end."""
    docs = _tp(spark, sf_dir, "documents")
    out = tx.redact_pii(docs.withColumn("text", F.expr(_PII_AUG_SPARK)))
    return out.select("doc_id", F.col("text").alias("redacted"))


def _sql_pii_redacted() -> str:
    red = "text"
    for pat in tx.PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '<PII>', 'g')"
    return f"""WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
)
SELECT doc_id, {red} AS redacted FROM aug"""


SQL_PII_REDACTED = _sql_pii_redacted()


# ---------------------------------------------------------------------------
# dedup (documents)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dd.dedup_exact(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
       min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)"""


# Hot-token document-frequency cap for the exact-Jaccard op (VERDICT
# r4 #1). 10⁴ here: the fixture corpus is word-soup over 31 tokens
# (sf0.1 max df = 3923), so the registry cap keeps test-scale output
# identical to the uncapped op while the guard is structural — at any
# real corpus a stopword with df > 10⁴ is dropped BEFORE the
# quadratic self-join, identically in both engines. The cap firing is
# exercised by pytest on a synthetic stopword corpus; occupancy is
# observable via `jaccard_df_stats`.
JACCARD_MAX_DF = 10_000


def q_jaccard_pairs(spark, sf_dir):
    return dd.jaccard_pairs(
        _tp(spark, sf_dir, "documents"), threshold=0.9, max_df=JACCARD_MAX_DF
    )


SQL_JACCARD_PAIRS = f"""WITH {SQL_DOC_DF},
xc AS (SELECT doc_id, tok FROM x JOIN d USING (tok) WHERE df <= {JACCARD_MAX_DF}),
s AS (SELECT doc_id, count(*) AS n FROM xc GROUP BY doc_id),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
      FROM xc a JOIN xc b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE AS jaccard
FROM i JOIN s sa ON sa.doc_id = i.doc_a JOIN s sb ON sb.doc_id = i.doc_b
WHERE n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE >= 0.9"""


def q_jaccard_df_stats(spark, sf_dir):
    """Observable-cap report for the jaccard hot-token guard."""
    return dd.token_df_stats(
        _tp(spark, sf_dir, "documents"), max_df=JACCARD_MAX_DF
    )


SQL_JACCARD_DF_STATS = f"""WITH {SQL_DOC_DF}
SELECT tok, df, {SQL_PAIR_VOLUME.format(n="df")} AS pairs,
       df > {JACCARD_MAX_DF} AS dropped
FROM d"""


VOCAB_TOPK = 100


def q_vocab_topk(spark, sf_dir):
    """Global top-k vocabulary by document frequency, deterministic
    tie-break (df desc, token asc). The plan is the scale-safe global
    top-k: per-partition TakeOrdered partials merged on the driver
    (Spark's TakeOrderedAndProject) — NO global sort, no single-reducer
    shuffle; at 100 TB the cost is one map-side agg + k rows per
    partition. The fixture corpus is word-soup over ~31 tokens, so
    k=100 returns the whole vocabulary — the ORDER itself (count-desc
    with the tie rule) is what the oracle hash pins."""
    toks = tx.with_tokens(_tp(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.array_distinct("tokens")).alias("tok")
    )
    d = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top = d.orderBy(F.col("df").desc(), F.col("tok")).limit(VOCAB_TOPK)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("df").desc(), F.col("tok"))
        ).cast("long"),
    )


SQL_VOCAB_TOPK = f"""WITH {SQL_DOC_DF}
SELECT tok, df,
       row_number() OVER (ORDER BY df DESC, tok) AS rank
FROM d
QUALIFY rank <= {VOCAB_TOPK}"""


# shared SQL: word-3-gram shingles + 16 minhashes (twin of
# dd.minhash_signatures(num_hashes=16, shingle_n=3))
SQL_MINHASH_SIG_CTE = f"""{SQL_TOKS},
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                generate_series(1, greatest(1, len(tokens) - 2)),
                i -> array_to_string(tokens[i:i+2], ' ')))) AS shingle
       FROM toks),
hx AS (SELECT doc_id, j,
              min((('0x' || substr(md5(j::VARCHAR || ':' || shingle), 1, 15))::UBIGINT)::BIGINT) AS minhash
       FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
       GROUP BY doc_id, j)"""


def q_minhash_signatures(spark, sf_dir):
    return dd.minhash_signatures(_tp(spark, sf_dir, "documents"))


SQL_MINHASH_SIGNATURES = f"""WITH {SQL_MINHASH_SIG_CTE}
SELECT doc_id, CAST(j AS INT) AS h, minhash FROM hx"""


def q_minhash_lsh_pairs(spark, sf_dir):
    return dd.minhash_lsh_pairs(_tp(spark, sf_dir, "documents"))


# library default of dd.minhash_lsh_pairs — mirrored in the oracle
# twins below so the hot-bucket guard holds the hash match at ANY
# scale, not just where nothing is dropped (VERDICT r4's reading)
MINHASH_MAX_BUCKET = 1000

# banded buckets, the bucket-size cap and the candidate pairs, shared
# by the pair query and the dedup_groups closure
SQL_MINHASH_BANDS_CTE = f"""bands AS (SELECT doc_id, j // 4 AS band,
                 md5(string_agg(minhash::VARCHAR, ',' ORDER BY j)) AS band_hash
          FROM hx GROUP BY doc_id, j // 4),
bb AS (SELECT doc_id, band, band_hash FROM bands
       QUALIFY count(*) OVER (PARTITION BY band, band_hash)
               <= {MINHASH_MAX_BUCKET}),
prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bb a JOIN bb b
         ON a.band = b.band AND a.band_hash = b.band_hash
        AND a.doc_id < b.doc_id)"""

SQL_MINHASH_LSH_PAIRS = f"""WITH {SQL_MINHASH_SIG_CTE},
{SQL_MINHASH_BANDS_CTE}
SELECT doc_a, doc_b FROM prs"""


def q_dedup_groups(spark, sf_dir):
    """Dedup endgame: MinHash-LSH pair graph → connected components →
    (doc_id, keep_id) survivor map for EVERY document."""
    return dd.dedup_groups(_tp(spark, sf_dir, "documents"))


# CTE chain shared by dedup_groups and the dedup-aware split queries
# (grp = the survivor map, one row per document)
SQL_DEDUP_GROUPS_CTES = f"""{SQL_MINHASH_SIG_CTE},
{SQL_MINHASH_BANDS_CTE},
sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM prs
       UNION SELECT doc_b, doc_a FROM prs),
{SQL_WALK},
cc AS (SELECT v AS doc_id, min(comp) AS keep FROM walk GROUP BY v),
grp AS (SELECT d.doc_id, coalesce(cc.keep, d.doc_id) AS keep_id
        FROM documents d LEFT JOIN cc USING (doc_id))"""

SQL_DEDUP_GROUPS = f"""WITH RECURSIVE {SQL_DEDUP_GROUPS_CTES}
SELECT doc_id, keep_id FROM grp"""


# ---------------------------------------------------------------------------
# corpus curation (functions/curation.py): decontamination, dedup-aware
# splits, stratified sampling
# ---------------------------------------------------------------------------


def _duck_op_hash(op: str, col: str) -> str:
    """DuckDB twin of curation._op_hash: hash60 of ``'<op>|' || id``."""
    return DUCK60.format(x=f"'{op}|' || {col}::VARCHAR")


CONTAM_BENCH_MOD = 20
CONTAM_MAX_BENCH_DF = 1000


def q_contamination(spark, sf_dir):
    return cu.contamination_overlap(
        _tp(spark, sf_dir, "documents"),
        bench_mod=CONTAM_BENCH_MOD,
        max_bench_df=CONTAM_MAX_BENCH_DF,
    )


# benchmark slice = deterministic 1/20 of docs by id hash; shingles
# reuse the minhash `sh` CTE (word-3-grams) so the two ops can never
# drift apart. Bench-side hot shingles capped via QUALIFY, mirroring
# the bench-df cap in curation.contamination_overlap.
SQL_CONTAMINATION = f"""WITH {SQL_MINHASH_SIG_CTE},
flag AS (SELECT doc_id, ({_duck_op_hash("bench", "doc_id")} % {CONTAM_BENCH_MOD} = 0) AS is_bench
         FROM documents),
bs AS (SELECT s.doc_id AS bench_id, s.shingle
       FROM sh s JOIN flag f ON f.doc_id = s.doc_id WHERE f.is_bench
       QUALIFY count(*) OVER (PARTITION BY s.shingle) <= {CONTAM_MAX_BENCH_DF}),
cs AS (SELECT s.doc_id, s.shingle
       FROM sh s JOIN flag f ON f.doc_id = s.doc_id WHERE NOT f.is_bench),
n AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM cs GROUP BY doc_id),
hit AS (SELECT c.doc_id,
               count(DISTINCT c.shingle)::BIGINT AS n_hit_shingles,
               count(DISTINCT b.bench_id)::BIGINT AS n_bench_docs
        FROM cs c JOIN bs b ON b.shingle = c.shingle
        GROUP BY c.doc_id)
SELECT h.doc_id, n.n_shingles, h.n_hit_shingles, h.n_bench_docs,
       h.n_hit_shingles::DOUBLE / n.n_shingles::DOUBLE AS contaminated_frac
FROM hit h JOIN n ON n.doc_id = h.doc_id"""


def q_split_assign(spark, sf_dir):
    return cu.split_assign(q_dedup_groups(spark, sf_dir))


_SPLIT_H = _duck_op_hash("split", "keep_id")
_SPLIT_CASE = f"""CASE WHEN ({_SPLIT_H} % 100) < 90 THEN 'train'
            WHEN ({_SPLIT_H} % 100) < 95 THEN 'val'
            ELSE 'test' END"""

SQL_SPLIT_ASSIGN = f"""WITH RECURSIVE {SQL_DEDUP_GROUPS_CTES}
SELECT doc_id, keep_id, {_SPLIT_CASE} AS split FROM grp"""


def q_split_stats(spark, sf_dir):
    return cu.split_stats(q_split_assign(spark, sf_dir))


SQL_SPLIT_STATS = f"""WITH RECURSIVE {SQL_DEDUP_GROUPS_CTES},
sa AS (SELECT doc_id, keep_id, {_SPLIT_CASE} AS split FROM grp)
SELECT split, count(*)::BIGINT AS n_docs,
       count(DISTINCT keep_id)::BIGINT AS n_groups
FROM sa GROUP BY split"""


PACK_BUDGET = 512
PACK_BUCKETS = 64


def q_pack_sequences(spark, sf_dir):
    return cu.pack_sequences(
        _tp(spark, sf_dir, "documents"),
        budget_tokens=PACK_BUDGET,
        num_buckets=PACK_BUCKETS,
    )


SQL_PACK_SEQUENCES = f"""WITH d AS (
  SELECT doc_id,
         len(string_split(regexp_replace(trim(lower(text)),
             '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens,
         {_duck_op_hash("pack", "doc_id")} AS h
  FROM documents),
b AS (SELECT doc_id, n_tokens, h, h % {PACK_BUCKETS} AS bucket FROM d),
o AS (SELECT doc_id, bucket, n_tokens,
             (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off
      FROM b)
SELECT doc_id, bucket,
       (off // {PACK_BUDGET})::BIGINT AS seq_idx,
       (off % {PACK_BUDGET})::BIGINT AS tok_offset,
       n_tokens
FROM o"""


def q_corpus_report(spark, sf_dir):
    # _tp: per-row md5+regex work must not serialize on the sandbox's
    # single-row-group input partition (see _tp docstring)
    return cu.corpus_report(_tp(spark, sf_dir, "documents"))


SQL_CORPUS_REPORT = """WITH d AS (
  SELECT coalesce(source, 'und') AS grp,
         len(string_split(regexp_replace(trim(lower(text)),
             '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens,
         md5(text) AS th
  FROM documents)
SELECT grp, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       count(DISTINCT th)::BIGINT AS n_unique_texts,
       sum(n_tokens)::BIGINT::DOUBLE / count(*)::DOUBLE AS mean_tokens,
       (count(*) - count(DISTINCT th))::BIGINT::DOUBLE / count(*)::DOUBLE
         AS dup_frac
FROM d GROUP BY grp"""


SAMPLE_QUOTA = 100


def q_stratified_sample(spark, sf_dir):
    # _tp: the per-row md5 hash threshold must not serialize on one
    # input partition (see _tp docstring)
    return cu.stratified_sample(
        _tp(spark, sf_dir, "documents"), quota=SAMPLE_QUOTA
    )


SQL_STRATIFIED_SAMPLE = f"""WITH d AS (
  SELECT doc_id, coalesce(lang, 'und') AS stratum FROM documents),
c AS (SELECT stratum, count(*)::BIGINT AS n_stratum FROM d GROUP BY stratum)
SELECT d.doc_id, d.stratum, c.n_stratum
FROM d JOIN c USING (stratum)
WHERE ({_duck_op_hash("sample", "doc_id")} % {cu.SAMPLE_MOD}) * c.n_stratum
      < {SAMPLE_QUOTA} * {cu.SAMPLE_MOD}"""


def q_simhash(spark, sf_dir):
    return dd.simhash(_tp(spark, sf_dir, "documents"))


def _sql_simhash_cte(bits: int = 60) -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return f"""{SQL_TOKS},
tk AS (SELECT doc_id, unnest(tokens) AS tok FROM toks),
hv AS (SELECT doc_id,
              (('0x' || substr(md5(tok), 1, 15))::UBIGINT)::BIGINT AS hv
       FROM tk),
sums AS (SELECT doc_id, {sums} FROM hv GROUP BY doc_id),
simh AS (SELECT doc_id, {terms} AS simhash FROM sums)"""


SQL_SIMHASH = f"""WITH {_sql_simhash_cte()}
SELECT doc_id, simhash FROM simh"""


def q_simhash_pairs(spark, sf_dir):
    return dd.simhash_neardup_pairs(_tp(spark, sf_dir, "documents"))


# band twin of dedup.simhash_neardup_pairs (60 bits, 7 bands of
# 9/8 bits — max_hamming+1 bands for a true pigeonhole guarantee)
_SIMHASH_BAND_SQL = ",\n".join(
    f"((simhash >> {start}) & {(1 << width) - 1})"
    for start, width in dd.simhash_bands(60, 7)
)
SQL_SIMHASH_PAIRS = f"""WITH {_sql_simhash_cte()},
sbands AS (SELECT doc_id, simhash,
                  generate_subscripts(bv, 1) AS band_idx, unnest(bv) AS band_val
           FROM (SELECT doc_id, simhash, [{_SIMHASH_BAND_SQL}] AS bv FROM simh)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sim_a, b.simhash AS sim_b
         FROM sbands a JOIN sbands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 6"""


def q_embedding_neardup(spark, sf_dir):
    return dd.embedding_neardup_pairs(
        _tp(spark, sf_dir, "embeddings"), threshold=0.4
    )


SQL_EMBEDDING_NEARDUP = """SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4"""


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------


def _queries_subset(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)


def q_knn_bruteforce(spark, sf_dir):
    e = _tp(spark, sf_dir, "embeddings")
    out = sim.cosine_topk(e, _queries_subset(spark, sf_dir), k=5)
    return out.withColumnRenamed("rank", "nn_rank")


# top-5 per query of scored(query_id, neighbor_id, cosine), ties to
# the lowest neighbor_id: the twin of similarity._top_k
SQL_TOP5 = """r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS nn_rank FROM r WHERE rnk <= 5"""

# exact-cosine re-rank of the candidate CTE cand(query_id, neighbor_id):
# the twin of similarity._rerank, shared by both ANN tiers
SQL_RERANK = f"""scored AS (SELECT cand.query_id, cand.neighbor_id,
                  list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                         CAST(ne.embedding AS DOUBLE[])) AS cosine
           FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
           JOIN embeddings ne ON ne.vec_id = cand.neighbor_id),
{SQL_TOP5}"""

SQL_KNN_BRUTEFORCE = f"""WITH q AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.vec_id
),
{SQL_TOP5}"""


def q_rhp_signatures(spark, sf_dir):
    return sim.rhp_signatures(_tp(spark, sf_dir, "embeddings"), planes=48)


def _sql_rhp_sig_cte(planes: int = 48) -> str:
    coef = (
        "(((('0x' || substr(md5('p' || p::VARCHAR || '-d' || (i - 1)::VARCHAR), 1, 15))::UBIGINT)::BIGINT % 1000) - 500)"
    )
    return f"""dims AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
dots AS (SELECT vec_id, p, sum(x * {coef}) AS dot
         FROM dims CROSS JOIN (SELECT unnest(generate_series(0, {planes - 1})) AS p) ps
         GROUP BY vec_id, p),
sig AS (SELECT vec_id,
               sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)::BIGINT AS sig
        FROM dots GROUP BY vec_id)"""


SQL_RHP_SIGNATURES = f"""WITH {_sql_rhp_sig_cte()}
SELECT vec_id, sig FROM sig"""

# 4 bands x 8 bits of a 32-plane ``sig``: the banding shared by the
# ann_lsh, rhp_neardup and embedding_dedup_groups twins
_SQL_RHP_BANDS = """bands AS (SELECT vec_id, b AS band, (sig >> (b * 8)) & 255 AS band_sig
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs)"""


def q_ann_lsh(spark, sf_dir):
    # corpus-sized LSH params (sim.rhp_params_for logic): the sandbox
    # embeddings table is ~500-2000 vectors, so 4 bands x 8 bits keeps
    # expected bucket occupancy ~2 and recall meaningful; the library
    # DEFAULTS (48 planes / 4 x 12-bit bands) are sized for >=10^6.
    e = _tp(spark, sf_dir, "embeddings")
    out = sim.ann_topk_lsh(
        e, _queries_subset(spark, sf_dir), k=5, planes=32, bands=4
    )
    return out.withColumnRenamed("rank", "nn_rank")


SQL_ANN_LSH = f"""WITH {_sql_rhp_sig_cte(32)},
{_SQL_RHP_BANDS},
qb AS (SELECT vec_id AS query_id, band, band_sig FROM bands
       WHERE vec_id % 100 = 0),
cand AS (SELECT DISTINCT qb.query_id, c.vec_id AS neighbor_id
         FROM qb JOIN bands c ON c.band = qb.band AND c.band_sig = qb.band_sig
         WHERE c.vec_id <> qb.query_id),
{SQL_RERANK}"""


def q_ann_ivf(spark, sf_dir):
    """Third ANN tier (IVF-flat with deterministic sampled centroids)
    — brute force is the exact baseline, RHP-LSH the hash-bucketed
    path, IVF the list-probing path."""
    e = _tp(spark, sf_dir, "embeddings")
    out = sim.ann_topk_ivf(
        e, _queries_subset(spark, sf_dir), k=5, n_centroids=16, nprobe=4
    )
    return out.withColumnRenamed("rank", "nn_rank")


def _sql_nearest_lists(rel: str, id_col: str, n: int) -> str:
    """The ``n`` centroids of ``cents`` nearest each row of
    ``rel(id_col, embedding)`` by cosine, ties to the lowest list_id:
    the twin of similarity._top_k over centroid cosines."""
    return f"""SELECT {id_col}, list_id FROM (
    SELECT r.{id_col}, c.list_id,
           row_number() OVER (
             PARTITION BY r.{id_col}
             ORDER BY list_cosine_similarity(CAST(r.embedding AS DOUBLE[]),
                                             c.centroid) DESC, c.list_id) AS rn
    FROM {rel} r CROSS JOIN cents c)
  WHERE rn <= {n}"""


SQL_ANN_IVF = f"""WITH cents AS MATERIALIZED (
  SELECT vec_id AS list_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings
  ORDER BY (('0x' || substr(md5('ivf|' || vec_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT,
           vec_id
  LIMIT 16
),
assign AS MATERIALIZED ({_sql_nearest_lists("embeddings", "vec_id", 1)}),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
probes AS ({_sql_nearest_lists("q", "query_id", 4)}),
cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         FROM probes p JOIN assign a ON a.list_id = p.list_id
         WHERE a.vec_id <> p.query_id),
{SQL_RERANK}"""


def q_rhp_neardup(spark, sf_dir):
    """LSH-bucketed embedding near-dup (the scale path twin of
    embedding_neardup)."""
    return sim.rhp_neardup_pairs(
        _tp(spark, sf_dir, "embeddings"),
        threshold=0.4,
        planes=32,
        bands=4,
        max_bucket=RHP_MAX_BUCKET,
    )


# library default of sim.rhp_neardup_pairs — mirrored in the oracle
# twins (QUALIFY) so the hot-bucket guard holds the hash match at ANY
# scale (structural at test scale: nothing is dropped at sf<=0.1, the
# JACCARD_MAX_DF / MINHASH_MAX_BUCKET discipline)
RHP_MAX_BUCKET = 10000

# capped-bucket RHP pair CTE chain (shared by the pair query and the
# embedding dedup-groups closure)
_SQL_RHP_PAIRS_CTES = f"""{_SQL_RHP_BANDS},
kept AS (SELECT * FROM bands
         QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= {RHP_MAX_BUCKET}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM kept a JOIN kept b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.vec_id < b.vec_id),
eprs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
  JOIN embeddings eb ON eb.vec_id = cand.id_b
  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])) >= 0.4)"""

SQL_RHP_NEARDUP = f"""WITH {_sql_rhp_sig_cte(32)},
{_SQL_RHP_PAIRS_CTES}
SELECT id_a, id_b FROM eprs"""


def q_embedding_dedup_groups(spark, sf_dir):
    """Semantic (embedding-space) dedup endgame: RHP-LSH pair graph →
    connected-components closure → (vec_id, keep_id) survivor map."""
    return dd.embedding_dedup_groups(
        _tp(spark, sf_dir, "embeddings"),
        threshold=0.4,
        planes=32,
        bands=4,
        max_bucket=RHP_MAX_BUCKET,
    )


SQL_EMBEDDING_DEDUP_GROUPS = f"""WITH RECURSIVE {_sql_rhp_sig_cte(32)},
{_SQL_RHP_PAIRS_CTES},
sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM eprs
       UNION SELECT id_b, id_a FROM eprs),
{SQL_WALK},
ecc AS (SELECT v AS vec_id, min(comp) AS keep FROM walk GROUP BY v)
SELECT e.vec_id, coalesce(ecc.keep, e.vec_id) AS keep_id
FROM embeddings e LEFT JOIN ecc USING (vec_id)"""


# ---------------------------------------------------------------------------
# multimodal / misc
# ---------------------------------------------------------------------------


def q_media_metadata(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return mm.media_metadata(mm.attach_fake_media(docs))


SQL_MEDIA_METADATA = """SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents"""


def q_latest_event(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


SQL_LATEST_EVENT = """SELECT user_id, event_type, event_id
FROM (SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1"""


def q_event_transitions(spark, sf_dir):
    """Empirical Markov transition edges over each user's ordered
    event sequence (the transcript tool-flow analog: prev_tool ->
    tool per conversation). (ts, event_id) is a total order, so the
    bigram multiset is engine-independent; prob is one double
    division of two exact BIGINTs."""
    from gelly_streaming_spark.functions.sequences import transition_edges

    ev = _t(spark, sf_dir, "events")
    return transition_edges(
        ev, key="user_id", label="event_type", order_by=["ts", "event_id"]
    )


SQL_EVENT_TRANSITIONS = """WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src_label,
         event_type AS dst_label
  FROM events
),
cnt AS (SELECT src_label, dst_label, count(*)::BIGINT AS n_transitions
        FROM pairs WHERE src_label IS NOT NULL
        GROUP BY src_label, dst_label),
tot AS (SELECT src_label, sum(n_transitions)::BIGINT AS src_total
        FROM cnt GROUP BY src_label)
SELECT c.src_label, c.dst_label, c.n_transitions,
       CAST(c.n_transitions AS DOUBLE) / CAST(t.src_total AS DOUBLE) AS prob
FROM cnt c JOIN tot t USING (src_label)"""


# ---------------------------------------------------------------------------
# partitioners (SURVEY.md §2.9)
# ---------------------------------------------------------------------------


def q_partition_hash(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import hash_edges

    return hash_edges(edges_from_events(spark, sf_dir), 8)


SQL_PARTITION_HASH = f"""WITH {SQL_EDGES}
SELECT src, dst, val, ts,
       CAST((('0x' || substr(md5(src::VARCHAR), 1, 15))::UBIGINT)::BIGINT % 8
            AS INT) AS part
FROM edges"""


def q_partition_dbh(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import dbh

    return dbh(edges_from_events(spark, sf_dir), 8)


SQL_PARTITION_DBH = f"""WITH {SQL_EDGES},
deg AS (SELECT vertex, count(*) AS deg
        FROM (SELECT src AS vertex FROM edges
              UNION ALL SELECT dst FROM edges)
        GROUP BY vertex),
j AS (SELECT e.*, ds.deg AS deg_src, dd.deg AS deg_dst,
             CASE WHEN ds.deg < dd.deg THEN e.src
                  WHEN dd.deg < ds.deg THEN e.dst
                  ELSE least(e.src, e.dst) END AS chosen
      FROM edges e JOIN deg ds ON ds.vertex = e.src
      JOIN deg dd ON dd.vertex = e.dst)
SELECT src, dst, val, ts,
       CAST((('0x' || substr(md5(chosen::VARCHAR), 1, 15))::UBIGINT)::BIGINT % 8
            AS INT) AS part
FROM j"""


def q_partition_stats(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import (
        hash_edges,
        partition_metrics,
    )

    return partition_metrics(hash_edges(edges_from_events(spark, sf_dir), 8))


SQL_PARTITION_STATS = f"""WITH {SQL_EDGES},
a AS (SELECT src, dst,
             CAST((('0x' || substr(md5(src::VARCHAR), 1, 15))::UBIGINT)::BIGINT % 8
                  AS INT) AS part
      FROM edges),
loads AS (SELECT part, count(*) AS load FROM a GROUP BY part),
lr AS (SELECT count(*)::BIGINT AS n_parts, max(load)::BIGINT AS max_load,
              min(load)::BIGINT AS min_load, sum(load)::BIGINT AS total_edges
       FROM loads),
vp AS (SELECT vertex, count(*) AS n_parts_v
       FROM (SELECT DISTINCT vertex, part
             FROM (SELECT src AS vertex, part FROM a
                   UNION ALL SELECT dst, part FROM a))
       GROUP BY vertex),
rr AS (SELECT count(*)::BIGINT AS n_vertices,
              sum(n_parts_v)::BIGINT AS total_replicas,
              sum(n_parts_v - 1)::BIGINT AS vertex_cut
       FROM vp)
SELECT lr.*, rr.*,
       rr.total_replicas::DOUBLE / rr.n_vertices::DOUBLE AS replication_factor,
       lr.max_load::DOUBLE * lr.n_parts::DOUBLE / lr.total_edges::DOUBLE AS balance
FROM lr, rr"""


def q_partition_hdrf_scalable(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import hdrf_scalable

    return hdrf_scalable(edges_from_events(spark, sf_dir), 8)


_D60H = DUCK60
SQL_PARTITION_HDRF_SCALABLE = f"""WITH {SQL_EDGES},
deg AS (SELECT vertex, count(*) AS deg
        FROM (SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges)
        GROUP BY vertex),
j AS (SELECT e.*, ds.deg AS du, dd.deg AS dv,
             CAST({_D60H.format(x='e.src::VARCHAR')} % 8 AS INT) AS hu,
             CAST({_D60H.format(x='e.dst::VARCHAR')} % 8 AS INT) AS hv
      FROM edges e JOIN deg ds ON ds.vertex = e.src
      JOIN deg dd ON dd.vertex = e.dst),
j2 AS (SELECT j.*, CASE WHEN du < dv THEN hu WHEN dv < du THEN hv
                        WHEN src <= dst THEN hu ELSE hv END AS p0 FROM j),
loads AS (SELECT p0, count(*) AS load FROM j2 GROUP BY p0),
bounds AS (SELECT max(load) AS maxl, min(load) AS minl FROM loads),
s AS (SELECT j2.*, coalesce(lu.load, 0) AS load_u, coalesce(lv.load, 0) AS load_v,
             b.maxl, b.minl
      FROM j2 LEFT JOIN loads lu ON lu.p0 = j2.hu
      LEFT JOIN loads lv ON lv.p0 = j2.hv CROSS JOIN bounds b),
sc AS (SELECT s.*, CAST(du AS DOUBLE) / (du + dv) AS tu,
              CAST(dv AS DOUBLE) / (du + dv) AS tv FROM s),
f AS (SELECT sc.*,
             (1.0 + (1.0 - tu)) + 1.0 * (maxl - load_u) / (1e-9 + maxl - minl)
               AS score_u,
             (1.0 + (1.0 - tv)) + 1.0 * (maxl - load_v) / (1e-9 + maxl - minl)
               AS score_v
      FROM sc)
SELECT src, dst, val, ts,
       CAST(CASE WHEN hu = hv THEN hu
                 WHEN score_u > score_v THEN hu
                 WHEN score_v > score_u THEN hv
                 ELSE least(hu, hv) END AS INT) AS part
FROM f"""


def q_partition_pds(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import pds_partition

    return pds_partition(edges_from_events(spark, sf_dir), 7)


def _sql_partition_pds(k: int = 7) -> str:
    from gelly_streaming_spark.operators.partitioning import pds_lookup_tables

    p, inter_flat, cset_flat = pds_lookup_tables(k)
    d60 = DUCK60
    su = f"({d60.format(x='src::VARCHAR')} % {k})"
    sv = f"({d60.format(x='dst::VARCHAR')} % {k})"
    hpair = d60.format(x="src::VARCHAR || ',' || dst::VARCHAR")
    inter = "[" + ",".join(str(x) for x in inter_flat) + "]"
    cset = "[" + ",".join(str(x) for x in cset_flat) + "]"
    return f"""WITH {SQL_EDGES}
SELECT src, dst, val, ts,
       CAST(CASE WHEN {su} != {sv}
                 THEN ({inter})[{su} * {k} + {sv} + 1]
                 ELSE ({cset})[{su} * {p + 1} + ({hpair} % {p + 1}) + 1]
            END AS INT) AS part
FROM edges"""


SQL_PARTITION_PDS = _sql_partition_pds(7)


def q_partition_grid(spark, sf_dir):
    """Grid partitioner, stateless Catalyst form (full hash oracle —
    VERDICT r4 #1: Grid is a pure lookup like PDS)."""
    from gelly_streaming_spark.operators.partitioning import (
        grid_partition_stateless,
    )

    return grid_partition_stateless(edges_from_events(spark, sf_dir), 8)


def _sql_partition_grid(k: int = 8) -> str:
    from gelly_streaming_spark.operators.partitioning import (
        grid_lookup_tables,
    )

    offsets, sizes, members = grid_lookup_tables(k)
    d60 = DUCK60
    su = f"({d60.format(x='src::VARCHAR')} % {k})"
    sv = f"({d60.format(x='dst::VARCHAR')} % {k})"
    hpair = d60.format(x="src::VARCHAR || ',' || dst::VARCHAR")
    off = "[" + ",".join(str(x) for x in offsets) + "]"
    sz = "[" + ",".join(str(x) for x in sizes) + "]"
    mem = "[" + ",".join(str(x) for x in members) + "]"
    idx = f"({su} * {k} + {sv} + 1)"
    return f"""WITH {SQL_EDGES}
SELECT src, dst, val, ts,
       CAST(({mem})[({off})[{idx}] + ({hpair} % ({sz})[{idx}]) + 1]
            AS INT) AS part
FROM edges"""


SQL_PARTITION_GRID = _sql_partition_grid(8)


def q_partition_greedy_scalable(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import greedy_scalable

    return greedy_scalable(edges_from_events(spark, sf_dir), 8)


SQL_PARTITION_GREEDY_SCALABLE = f"""WITH {SQL_EDGES},
j AS (SELECT e.*,
             CAST({DUCK60.format(x='e.src::VARCHAR')} % 8 AS INT) AS hu,
             CAST({DUCK60.format(x='e.dst::VARCHAR')} % 8 AS INT) AS hv
      FROM edges e),
loads AS (SELECT hu AS p0, count(*) AS load FROM j GROUP BY hu),
s AS (SELECT j.*, coalesce(lu.load, 0) AS load_u,
             coalesce(lv.load, 0) AS load_v
      FROM j LEFT JOIN loads lu ON lu.p0 = j.hu
      LEFT JOIN loads lv ON lv.p0 = j.hv)
SELECT src, dst, val, ts,
       CAST(CASE WHEN hu = hv THEN hu
                 WHEN load_u < load_v THEN hu
                 WHEN load_v < load_u THEN hv
                 ELSE least(hu, hv) END AS INT) AS part
FROM s"""


def adjacency_from_events(spark, sf_dir):
    """Undirected adjacency lists over the events-derived graph — the
    input shape of the VERTEX partitioners (Fennel / LinearGreedy
    consume (vertex, neighbors), vertexpartitioners/Fennel.java:
    132-150). Sorted distinct neighbors for determinism."""
    e = edges_from_events(spark, sf_dir)
    sym = e.select(
        F.col("src").alias("vertex"), F.col("dst").alias("nbr")
    ).unionAll(e.select(F.col("dst").alias("vertex"), F.col("src").alias("nbr")))
    return sym.groupBy("vertex").agg(
        F.sort_array(F.collect_set("nbr")).alias("neighbors")
    )


def q_partition_fennel(spark, sf_dir):
    # sequential stateful vertex scorer (parallelism-1 parity op,
    # Fennel.java:132-230) -> rows-only
    from gelly_streaming_spark.operators.partitioning import fennel_vertices

    return fennel_vertices(adjacency_from_events(spark, sf_dir), 4)


def q_partition_linear_greedy(spark, sf_dir):
    # sequential stateful vertex scorer (LinearGreedy.java:139-214)
    # -> rows-only; capacity sized so the hard cap can always hold
    # (ceil(n/k)+1 per machine: k·cap >= n+k > n). The count() is a
    # bounded scalar (one long to the driver), same as bipartiteness'
    # verdict probe.
    import math as _math

    from gelly_streaming_spark.operators.partitioning import (
        linear_greedy_vertices,
    )

    adj = adjacency_from_events(spark, sf_dir)
    cap = _math.ceil(adj.count() / 4) + 1
    return linear_greedy_vertices(adj, 4, capacity=cap)


def q_partition_greedy(spark, sf_dir):
    # sequential stateful scorer (Greedy.java:95-170, parallelism-1
    # parity op) -> rows-only; hash-checked scale twin:
    # partition_greedy_scalable
    from gelly_streaming_spark.operators.partitioning import greedy_partition

    return greedy_partition(edges_from_events(spark, sf_dir), 8)


def q_partition_grid_seq(spark, sf_dir):
    # faithful least-loaded grid fold (Grid.java:100-150) -> rows-only;
    # hash-checked stateless twin: partition_grid
    from gelly_streaming_spark.operators.partitioning import grid_partition

    return grid_partition(edges_from_events(spark, sf_dir), 8)


def q_partition_hdrf(spark, sf_dir):
    # sequential stateful scorer (parallelism-1 parity op) -> rows-only
    from gelly_streaming_spark.operators.partitioning import hdrf

    return hdrf(edges_from_events(spark, sf_dir), 8)


def q_partition_vertices_hash(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import hash_vertices

    v = EdgeStream(edges_from_events(spark, sf_dir)).get_vertices()
    return hash_vertices(v, 5, vertex_col="vertex_id")


SQL_PARTITION_VERTICES_HASH = f"""WITH {SQL_EDGES}, {SQL_ENDPOINTS}
SELECT vertex AS vertex_id,
       CAST({DUCK60.format(x="vertex::VARCHAR")} % 5 AS INT) AS part
FROM (SELECT DISTINCT vertex FROM endpoints)"""


def q_partition_pds_seq(spark, sf_dir):
    # faithful least-loaded PDS fold (sequential parity op) -> rows-only
    from gelly_streaming_spark.operators.partitioning import pds_sequential

    return pds_sequential(edges_from_events(spark, sf_dir), 7)


def q_partition_least_cost(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import least_cost

    return least_cost(edges_from_events(spark, sf_dir), 4)


def q_partition_least_cost_advance(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import least_cost_advance

    return least_cost_advance(edges_from_events(spark, sf_dir), 4)


def q_partition_degree_based(spark, sf_dir):
    from gelly_streaming_spark.operators.partitioning import degree_based_custom

    return degree_based_custom(edges_from_events(spark, sf_dir), 4)


def q_media_resize(spark, sf_dir):
    # binary output column -> rows-only (cross-engine BLOB value
    # normalization differs); determinism + metadata pinned in pytest
    docs = _t(spark, sf_dir, "documents")
    return mm.resize_images(mm.attach_fake_media(docs), max_side=128)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple[Callable, str | None]] = {
    # graph operators (SURVEY.md §2.2-2.5)
    "degree": (q_degree, SQL_DEGREE),
    "degree_inout": (q_degree_inout, SQL_DEGREE_INOUT),
    "windowed_degree": (q_windowed_degree, SQL_WINDOWED_DEGREE),
    "sliding_degree": (q_sliding_degree, SQL_SLIDING_DEGREE),
    "global_aggregate": (q_global_aggregate, SQL_GLOBAL_AGGREGATE),
    "vertex_aggregate": (q_vertex_aggregate, SQL_VERTEX_AGGREGATE),
    "vertices": (q_vertices, SQL_VERTICES),
    "num_entities": (q_num_entities, SQL_NUM_ENTITIES),
    "distinct_edges": (q_distinct_edges, SQL_DISTINCT_EDGES),
    "canonical_undirected": (q_canonical_undirected, SQL_CANONICAL_UNDIRECTED),
    "neighborhood": (q_neighborhood, SQL_NEIGHBORHOOD),
    "slice_reduce": (q_slice_reduce, SQL_SLICE_REDUCE),
    "slice_apply": (q_slice_apply, SQL_SLICE_APPLY),
    "edge_transforms": (q_edge_transforms, SQL_EDGE_TRANSFORMS),
    "union_graphs": (q_union_graphs, SQL_UNION_GRAPHS),
    "degree_trace": (q_degree_trace, SQL_DEGREE_TRACE),
    # algorithms (SURVEY.md §2.6-2.8)
    "connected_components": (q_connected_components, SQL_CONNECTED_COMPONENTS),
    "connected_components_scalable": (
        q_connected_components_scalable,
        SQL_CONNECTED_COMPONENTS,
    ),
    "bipartiteness": (q_bipartiteness, SQL_BIPARTITENESS),
    "degree_distribution": (q_degree_distribution, SQL_DEGREE_DISTRIBUTION),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "session_stats": (q_session_stats, SQL_SESSION_STATS),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "triangle_local": (q_triangle_local, SQL_TRIANGLE_LOCAL),
    "window_triangles": (q_window_triangles, SQL_WINDOW_TRIANGLES),
    "spanner_components": (q_spanner_components, SQL_CONNECTED_COMPONENTS),
    "matching_dominant": (q_matching_dominant, SQL_MATCHING_DOMINANT),
    "sssp": (q_sssp, SQL_SSSP),
    "sssp_weighted": (q_sssp_weighted, SQL_SSSP_WEIGHTED),
    "community_lpa": (q_community_lpa, SQL_COMMUNITY_LPA),
    "triangle_estimate": (q_triangle_estimate, SQL_TRIANGLE_ESTIMATE),
    "clustering_coeff": (q_clustering_coeff, SQL_CLUSTERING_COEFF),
    "clustering_coeff_estimate": (
        q_clustering_coeff_estimate,
        SQL_CLUSTERING_COEFF_ESTIMATE,
    ),
    "pagerank": (q_pagerank, SQL_PAGERANK),
    # text analysis (training-data ops)
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "bpe_token_count": (q_bpe_token_count, SQL_BPE_TOKEN_COUNT),
    "quality": (q_quality, SQL_QUALITY),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "repetition": (q_repetition, SQL_REPETITION),
    "pii_stats": (q_pii_stats, SQL_PII_STATS),
    "pii_redacted": (q_pii_redacted, SQL_PII_REDACTED),
    # dedup
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD_PAIRS),
    "jaccard_df_stats": (q_jaccard_df_stats, SQL_JACCARD_DF_STATS),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "cooccurrence_bucket_stats": (
        cooccurrence_bucket_stats,
        SQL_COOC_BUCKET_STATS,
    ),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "dedup_groups": (q_dedup_groups, SQL_DEDUP_GROUPS),
    # corpus curation
    "contamination": (q_contamination, SQL_CONTAMINATION),
    "split_assign": (q_split_assign, SQL_SPLIT_ASSIGN),
    "split_stats": (q_split_stats, SQL_SPLIT_STATS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "corpus_report": (q_corpus_report, SQL_CORPUS_REPORT),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    # similarity search
    "knn_bruteforce": (q_knn_bruteforce, SQL_KNN_BRUTEFORCE),
    "rhp_signatures": (q_rhp_signatures, SQL_RHP_SIGNATURES),
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "rhp_neardup": (q_rhp_neardup, SQL_RHP_NEARDUP),
    "embedding_dedup_groups": (
        q_embedding_dedup_groups,
        SQL_EMBEDDING_DEDUP_GROUPS,
    ),
    # multimodal / misc
    "media_metadata": (q_media_metadata, SQL_MEDIA_METADATA),
    "latest_event": (q_latest_event, SQL_LATEST_EVENT),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    # partitioners (§2.9)
    "partition_hash": (q_partition_hash, SQL_PARTITION_HASH),
    "partition_dbh": (q_partition_dbh, SQL_PARTITION_DBH),
    "partition_pds": (q_partition_pds, SQL_PARTITION_PDS),
    "partition_stats": (q_partition_stats, SQL_PARTITION_STATS),
    "partition_vertices_hash": (
        q_partition_vertices_hash,
        SQL_PARTITION_VERTICES_HASH,
    ),
    "partition_hdrf_scalable": (
        q_partition_hdrf_scalable,
        SQL_PARTITION_HDRF_SCALABLE,
    ),
    "partition_grid": (q_partition_grid, SQL_PARTITION_GRID),
    "partition_greedy_scalable": (
        q_partition_greedy_scalable,
        SQL_PARTITION_GREEDY_SCALABLE,
    ),
    # ------------------------------------------------------------------
    # rows-only tail: every oracle-bearing query sits ABOVE this line so
    # a driver artifact that caps the enumerated surface records the
    # hash-checked queries first (VERDICT r2 #5). Each entry below is a
    # documented no-oracle case (arrival-order / sequential parity /
    # binary output) with a hash-checked scale twin above where
    # meaningful.
    # ------------------------------------------------------------------
    "spanner": (q_spanner, None),  # arrival-order-dependent edge set
    "matching": (q_matching, None),  # sequential 2-approx, no SQL twin
    "partition_hdrf": (q_partition_hdrf, None),  # sequential scorer
    "partition_greedy": (q_partition_greedy, None),  # sequential scorer
    "partition_grid_seq": (q_partition_grid_seq, None),
    "partition_fennel": (q_partition_fennel, None),  # sequential vertex fold
    "partition_linear_greedy": (q_partition_linear_greedy, None),
    "partition_pds_seq": (q_partition_pds_seq, None),
    "partition_least_cost": (q_partition_least_cost, None),
    "partition_least_cost_advance": (q_partition_least_cost_advance, None),
    "partition_degree_based": (q_partition_degree_based, None),
    "media_resize": (q_media_resize, None),  # binary output column
}
