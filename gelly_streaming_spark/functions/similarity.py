"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:

- ``cosine_topk``: brute-force exact top-k — broadcast the (small)
  query set against the full corpus; one scan, no shuffle of the
  corpus, per-row JVM-side ``zip_with``/``aggregate`` dot products.
  This is the exact baseline and the oracle.
- ``rhp_*``: random-hyperplane LSH — deterministic md5-derived integer
  hyperplanes (reproducible in SQL, no RNG state to ship), signature
  = sign-pattern bits, candidates restricted to same-band buckets.
  The scale path: candidate generation is an equi-join on
  (band, band_sig), so cost is per-bucket, never O(n²).

Parameterize by corpus size (r1 defaults of 16 planes / 2 bands gave
only 256 buckets per band — candidate volume ~n²/256, degenerate at
≥10⁶ vectors): defaults are now 48 planes / 4 bands (12 bits → 4096
buckets per band, higher ≥1-band recall at cosine 0.95 than the old
scheme), and ``rhp_params_for`` picks (planes, bands) so the
EXPECTED bucket occupancy n / 2^bits stays near a target — at 10⁹
vectors that is 2 bands × 22 bits (the 60-plane signature budget
trades band count, never band width). ``band_occupancy`` materializes
the realized histogram so skew (not just the expectation) is
observable; the bucket cap of ``buckets.py`` in ``rhp_neardup_pairs``
then only trims true outlier buckets instead of silently collapsing
recall.

Every top-k here (exact cosine, ties to the lowest id) is ``_top_k``;
both ANN tiers re-rank their candidates with ``_rerank``.

Doubles are used only inside ranking; outputs expose ids + integer
ranks so cross-engine float noise cannot break value hashes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gelly_streaming_spark.functions.buckets import bucket_pairs


def rhp_params_for(
    n_vectors: int, bands: int = 4, target_bucket: int = 256
) -> tuple[int, int]:
    """(planes, bands) sized for ``n_vectors``: bits-per-band =
    ceil(log2(n / target_bucket)) so expected bucket occupancy ≈
    ``target_bucket`` ALWAYS holds — when bits·bands would exceed the
    60-plane signature budget (sign-safe 64-bit int on both engines),
    the band COUNT shrinks rather than the band width (fewer bands =
    lower recall, recoverable by multiple probes; wider buckets =
    quadratic candidate blow-up, not recoverable). At 10⁹ vectors /
    target 256 that is 2 bands × 22 bits."""
    bits = max(8, math.ceil(math.log2(max(n_vectors, 2) / target_bucket)))
    if bits * bands > 60:
        bands = max(1, 60 // bits)
    return bits * bands, bands


def band_occupancy(bands_df: DataFrame, band_cols=("band", "band_sig")) -> DataFrame:
    """Bucket-occupancy histogram (bucket_size, n_buckets) of an LSH
    banding frame — the observability hook for LSH parameter choice:
    a heavy tail here means candidate-join skew (AQE handles the
    join; ``max_bucket`` bounds the pair blow-up) and a mass at
    size 1 means wasted bands."""
    sizes = bands_df.groupBy(*band_cols).agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("bucket_size")
    )

DOT = "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
NORM_A = "sqrt(aggregate(transform(va, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))"
NORM_B = "sqrt(aggregate(transform(vb, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))"
COSINE = f"({DOT}) / (({NORM_A}) * ({NORM_B}))"


def _as_double(
    embeddings: DataFrame, id_as: str = "vec_id", v_as: str = "v"
) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").alias(id_as),
        F.col("embedding").cast("array<double>").alias(v_as),
    )


def _top_k(scored: DataFrame, part: str, tie: str, k: int) -> DataFrame:
    """The rows of ``scored`` ranked 1..k by ``cosine`` (descending)
    within each ``part``, ties to the lowest ``tie``; adds ``rank``."""
    w = Window.partitionBy(part).orderBy(F.col("cosine").desc(), F.col(tie).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _rerank(
    cand: DataFrame, embeddings: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """(query_id, neighbor_id, rank): the candidate pairs ``cand``
    ranked by exact cosine, top ``k`` per query."""
    scored = (
        cand.join(_as_double(embeddings, "neighbor_id", "vb"), "neighbor_id")
        .join(F.broadcast(_as_double(queries, "query_id", "va")), "query_id")
        .withColumn("cosine", F.expr(COSINE))
    )
    return _top_k(scored, "query_id", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank"
    )


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact brute-force top-k: (query_id, neighbor_id, rank).

    ``queries`` is a small (vec_id, embedding) frame — broadcast, so
    the corpus is scanned once with no shuffle until the final
    per-query top-k (a groupBy on query_id over ≤ |queries|·|corpus|
    scored rows; at scale, pre-aggregate per partition via the same
    window trick AQE already handles). Self-matches are excluded;
    ties broken by neighbor_id ascending (deterministic)."""
    corpus = _as_double(embeddings, "neighbor_id", "vb")
    q = _as_double(queries, "query_id", "va")
    scored = F.broadcast(q).crossJoin(corpus).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = scored.withColumn("cosine", F.expr(COSINE))
    return _top_k(scored, "query_id", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank"
    )


def rhp_plane_expr(plane: int, dim: int) -> str:
    """Deterministic integer hyperplane coefficient for (plane, dim):
    md5-derived value in [-500, 499]. Pure SQL → reproducible in the
    DuckDB oracle and across cluster restarts (no RNG broadcast)."""
    h = f"cast(conv(substring(md5(concat('p{plane}-d', cast({dim} as string))), 1, 15), 16, 10) as bigint)"
    return f"(pmod({h}, 1000) - 500)"


def rhp_signatures(embeddings: DataFrame, planes: int = 48) -> DataFrame:
    """(vec_id, sig): random-hyperplane signature — bit p of ``sig``
    is set iff dot(v, plane_p) > 0. Planes have deterministic integer
    coefficients; the dot product of float32 inputs with small-int
    coefficients is exact enough that sign() agrees across engines
    (computed in double both sides)."""
    e = _as_double(embeddings)
    bit_terms = []
    for p in range(planes):
        coef = rhp_plane_expr(p, "i - 1")
        dot = (
            f"aggregate(zip_with(v, sequence(1, size(v)), (x, i) -> x * {coef}),"
            f" cast(0.0 as double), (acc, x) -> acc + x)"
        )
        bit_terms.append(
            f"(case when ({dot}) > 0 then cast({2 ** p} as bigint) else cast(0 as bigint) end)"
        )
    sig = " + ".join(bit_terms)
    return e.select("vec_id", F.expr(sig).alias("sig"))


def rhp_bands(
    embeddings: DataFrame, planes: int = 48, bands: int = 4
) -> DataFrame:
    """(vec_id, band, band_sig): split the sign signature into
    ``bands`` equal bit-bands for LSH bucketing."""
    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1
    sig = rhp_signatures(embeddings, planes)
    return sig.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> (shiftright(sig, b * {bits_per_band}) & {mask}))"
            )
        ).alias("band", "band_sig"),
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 48,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k: (query_id, neighbor_id, rank) ranked by
    exact cosine but only among candidates sharing ≥ 1 LSH band with
    the query. Recall < 1 by design; the win is that the candidate
    join is an equi-join on (band, band_sig) — per-bucket cost, which
    is what survives a 100× scale-up (brute force does not)."""
    corpus_b = rhp_bands(embeddings, planes, bands).select(
        F.col("vec_id").alias("neighbor_id"), "band", "band_sig"
    )
    query_b = rhp_bands(queries, planes, bands).select(
        F.col("vec_id").alias("query_id"), "band", "band_sig"
    )
    cand = (
        F.broadcast(query_b)
        .join(corpus_b, ["band", "band_sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank(cand, embeddings, queries, k)


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """(list_id, centroid): IVF coarse centroids chosen
    DETERMINISTICALLY as the ``n_centroids`` corpus vectors with the
    smallest md5-derived hash of their id — i.e. a reproducible
    uniform sample, no RNG state, no k-means float aggregation (whose
    parallel summation order would break cross-engine and run-to-run
    determinism; a production deployment would drop in offline-trained
    k-means centroids here without touching the rest of the plan).
    Selection is a distributed top-C (TakeOrderedAndProject), not a
    global window."""
    h = "cast(conv(substring(md5(concat('ivf|', cast(vec_id as string))), 1, 15), 16, 10) as bigint)"
    return (
        embeddings.withColumn("_h", F.expr(h))
        .orderBy("_h", "vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("list_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """(vec_id, list_id): assign every vector to its nearest coarse
    centroid (max cosine; ties → lowest list_id). O(n·C) work — the
    standard IVF build cost; with C ≈ √n the whole index build is
    O(n^1.5) embarrassingly-parallel rows, and the centroid side is
    tiny (broadcast)."""
    e = _as_double(embeddings, v_as="va")
    c = centroids.select("list_id", F.col("centroid").alias("vb"))
    scored = e.join(F.broadcast(c)).withColumn("cosine", F.expr(COSINE))
    return _top_k(scored, "vec_id", "list_id", 1).select("vec_id", "list_id")


def ann_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: (query_id, neighbor_id, rank).

    The third ANN tier next to brute force (exact baseline) and RHP
    LSH: vectors are bucketed into ``n_centroids`` coarse lists at
    build time; each query probes its ``nprobe`` nearest lists and
    re-ranks ONLY those candidates by exact cosine. Scan fraction ≈
    nprobe/n_centroids of the corpus per query — at 10⁹ vectors with
    C = 32k lists and nprobe = 32 that is 0.1% of the corpus, against
    100% for brute force. All equi-joins on list_id after the tiny
    broadcast centroid scoring; recall is governed by nprobe."""
    cents = ivf_centroids(embeddings, n_centroids)
    assign = ivf_assign(embeddings, cents)
    q = _as_double(queries, "query_id", "va")
    c = cents.select("list_id", F.col("centroid").alias("vb"))
    qprobe = (
        F.broadcast(q)
        .join(F.broadcast(c))
        .withColumn("cosine", F.expr(COSINE))
    )
    probes = _top_k(qprobe, "query_id", "list_id", nprobe)
    cand = (
        probes.join(assign, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rerank(cand, embeddings, queries, k)


def rhp_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    planes: int = 48,
    bands: int = 4,
    max_bucket: int = 10000,
) -> DataFrame:
    """Embedding near-dup pairs at scale: LSH-bucketed candidates +
    exact cosine verify. Same contract as
    ``dedup.embedding_neardup_pairs`` but never materializes O(n²)
    pairs; recall is governed by (planes, bands)."""
    bb = rhp_bands(embeddings, planes, bands)
    cand = (
        bucket_pairs(bb, "vec_id", ["band", "band_sig"], max_bucket)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(_as_double(embeddings, "id_a", "va"), "id_a")
        .join(_as_double(embeddings, "id_b", "vb"), "id_b")
        .withColumn("cosine", F.expr(COSINE))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
