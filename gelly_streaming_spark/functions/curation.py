"""Corpus-curation operators: the last-mile training-data pipeline
steps that sit AFTER cleaning/dedup — benchmark decontamination,
dedup-aware train/val/test splitting, and per-stratum quota sampling.

Not in the graph-streaming reference (its data plane is numeric edge
tuples only, SURVEY.md §2.11); these complete the document-side ladder
in ``text.py`` / ``dedup.py``. Like everything in ``functions/``,
each operator is a pure Catalyst DataFrame plan (no Python in the hot
path) with an exact DuckDB SQL twin in ``queries.py`` for the
correctness oracle, built on the canonical 60-bit md5 hash pair
(``functions/hashing.py``) so both engines agree bit-for-bit.

Scale notes (designed for 100 TB, tested at sf0.1):

- contamination: corpus-side and benchmark-side shingle sets meet in
  ONE equi-join on the shingle; the benchmark side is tiny by
  construction (an eval set), and its hot shingles (boilerplate
  n-grams shared by > ``max_bench_df`` benchmark docs) are dropped
  before the join by the bucket cap of ``buckets.py``, so the join
  can never degenerate quadratically. This is the standard n-gram
  decontamination shape (GPT-3 appendix C / PaLM-style 13-gram
  overlap; the fixture corpus uses word-3-grams so tiny docs still
  shingle).
- split assignment: hash-of-GROUP, not hash-of-doc — near-duplicate
  clusters (``dedup.dedup_groups``) land in ONE split by
  construction, closing the classic train/test leakage hole where two
  near-identical documents straddle the split. Cost over the survivor
  map is a single projection.
- stratified sampling: per-stratum Bernoulli by deterministic hash
  threshold — ONE aggregate for stratum counts (broadcast back: the
  stratum dimension is tiny) + a filter. No per-stratum window sort,
  no row_number: the plan has no skewed shuffle and survives any
  corpus size. The kept set is exactly reproducible (hash-derived),
  and expected quota holds per stratum: keep iff
  ``h(doc) * n_stratum < quota * MOD`` — all BIGINT integer math, so
  both engines select the identical rows (no double rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gelly_streaming_spark.functions.buckets import cap_buckets
from gelly_streaming_spark.functions.dedup import word_shingles
from gelly_streaming_spark.functions.hashing import HASH60
from gelly_streaming_spark.functions.text import TOKENS_EXPR

# Modulus for hash-threshold sampling: h % MOD is uniform on [0, MOD).
# MOD * n_stratum must fit BIGINT: 10^6 * 10^12 = 10^18 < 2^63.
SAMPLE_MOD = 1_000_000


def _op_hash(op: str, col: str):
    """hash60 of ``'<op>|' || <col>``: each op hashes its own domain,
    so composing two selections (sample then pack, split of the
    benchmark slice, ...) gives independent draws rather than one hash
    reused under moduli that share factors."""
    return F.expr(HASH60.format(x=f"concat('{op}|', cast({col} as string))"))


def _n_tokens():
    """Token count via the ONE canonical tokenization
    (text.TOKENS_EXPR) so packing/report counts can never drift from
    token_count and the oracles. A function, not a module constant:
    Column construction needs an active SparkContext."""
    return F.size(F.expr(TOKENS_EXPR.format(col="text"))).cast("long")


def benchmark_flagged(docs: DataFrame, bench_mod: int = 20) -> DataFrame:
    """Attach ``is_bench``: a deterministic 1/``bench_mod`` slice of
    the corpus designated as the held-out benchmark/eval set (stand-in
    for an external benchmark table; swap in a real one behind the
    same two-column (doc_id, text) contract)."""
    h = _op_hash("bench", "doc_id")
    return docs.withColumn("is_bench", (h % bench_mod) == 0)


def contamination_overlap(
    docs: DataFrame,
    shingle_n: int = 3,
    bench_mod: int = 20,
    max_bench_df: int = 1000,
) -> DataFrame:
    """Benchmark-decontamination scan: for every training-corpus
    document sharing at least one word ``shingle_n``-gram with the
    benchmark slice, report how contaminated it is.

    Output (doc_id, n_shingles, n_hit_shingles, n_bench_docs,
    contaminated_frac): the doc's distinct-shingle count, how many of
    those shingles appear in any benchmark doc, how many distinct
    benchmark docs it collides with, and the contaminated fraction
    (one exact-int division — hash-stable). Downstream drops or
    flags docs above a threshold; emitting only hit docs keeps the
    output proportional to actual contamination.

    Benchmark shingles occurring in more than ``max_bench_df``
    benchmark docs are dropped before the join (observable via the
    same df-stats pattern as ``jaccard_df_stats``): a boilerplate
    n-gram shared by every benchmark doc is noise for contamination
    AND the only way this join could blow up.
    """
    flagged = benchmark_flagged(docs, bench_mod)
    bench = flagged.filter(F.col("is_bench")).select("doc_id", "text")
    corpus = flagged.filter(~F.col("is_bench")).select("doc_id", "text")

    bs = word_shingles(bench, shingle_n).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    bs = cap_buckets(bs, ["shingle"], max_bench_df)
    cs = word_shingles(corpus, shingle_n)  # (doc_id, shingle), distinct

    n = cs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = cs.join(bs, "shingle").groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_hit_shingles"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )
    return hit.join(n, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hit_shingles",
        "n_bench_docs",
        (
            F.col("n_hit_shingles").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contaminated_frac"),
    )


def split_assign(
    groups: DataFrame,
    mod: int = 100,
    train_lt: int = 90,
    val_lt: int = 95,
) -> DataFrame:
    """Dedup-aware train/val/test assignment: (doc_id, keep_id,
    split) for EVERY document of the survivor map ``groups`` (the
    (doc_id, keep_id) output of ``dedup.dedup_groups``), where
    ``split`` is decided by hashing the document's near-duplicate
    cluster survivor ``keep_id``, NOT the document itself — so a
    cluster of near-identical docs can never straddle the split
    boundary (the leakage failure mode of naive per-doc hashing).
    Default 90/5/5.

    Composition of the already-hash-checked survivor map with one
    projection; the leakage invariant (one split per keep_id group)
    holds by construction and is pinned in pytest.
    """
    b = _op_hash("split", "keep_id") % mod
    return groups.select(
        "doc_id",
        "keep_id",
        F.when(b < train_lt, F.lit("train"))
        .when(b < val_lt, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_stats(assigned: DataFrame) -> DataFrame:
    """Per-split rollup of ``split_assign``'s output: (split, n_docs,
    n_groups). ``n_groups`` counts distinct survivor ids — because
    assignment hashes the group, sum(n_groups) over splits equals the
    total number of near-dup clusters (no group is double-counted
    across splits; the oracle hash proves it cross-engine)."""
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("keep_id").alias("n_groups"),
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    num_buckets: int = 64,
) -> DataFrame:
    """Sequence packing for pretraining: assign every document to a
    fixed-token-budget training sequence under concat-and-chunk
    semantics (documents are concatenated in a deterministic order and
    the token stream is cut every ``budget_tokens``; a document belongs
    to the chunk where it STARTS).

    Output (doc_id, bucket, seq_idx, tok_offset, n_tokens): the
    document's pack bucket, its sequence number within the bucket, its
    token offset inside that sequence, and its own token count — the
    exact placement a packing dataloader needs, reproducible across
    runs and engines (all-BIGINT arithmetic over the deterministic
    (hash60(doc_id), doc_id) order).

    Scale shape: packing is inherently sequential over its order, so
    the corpus is split into ``num_buckets`` independent hash buckets
    packed in parallel — ONE shuffle into the bucket partitioning,
    then a per-bucket running sum (Spark's window with partial
    aggregation; no global sort, no single reducer). Size num_buckets
    so a bucket's documents fit an executor's sort spill comfortably
    (at 100 TB: ~10^4-10^5 buckets); the fixture default 64 keeps
    test-scale buckets non-trivial."""
    h = _op_hash("pack", "doc_id")
    d = docs.select(
        "doc_id",
        _n_tokens().alias("n_tokens"),
        h.alias("h"),
    ).withColumn("bucket", F.pmod(F.col("h"), F.lit(num_buckets)))
    w = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn(
        "offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return d.select(
        "doc_id",
        "bucket",
        # integer div (exact at any magnitude — double division would
        # lose precision past 2^53 offsets)
        F.expr(f"offset div {budget_tokens}").cast("long").alias("seq_idx"),
        F.pmod(F.col("offset"), F.lit(budget_tokens)).alias("tok_offset"),
        "n_tokens",
    )


def corpus_report(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """The pipeline dashboard rollup: per ``group_col`` (source,
    language, ...) — document count, total/mean tokens, distinct text
    count and the exact-duplicate fraction. One hash aggregate (two
    phases for the distinct); both ratios are single divisions of
    exact BIGINTs, so the report hash-matches cross-engine."""
    g = F.coalesce(F.col(group_col), F.lit("und")).alias("grp")
    d = docs.select(
        g,
        _n_tokens().alias("n_tokens"),
        F.md5("text").alias("th"),
    )
    out = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("th").alias("n_unique_texts"),
    )
    return out.select(
        "grp",
        "n_docs",
        "total_tokens",
        "n_unique_texts",
        (
            F.col("total_tokens").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("mean_tokens"),
        (
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_frac"),
    )


def stratified_sample(
    docs: DataFrame,
    quota: int = 100,
    strata_col: str = "lang",
    mod: int = SAMPLE_MOD,
) -> DataFrame:
    """Deterministic per-stratum quota sample: keep ~``quota`` docs
    from each stratum (language, source, ...), exactly reproducible.

    Keeps doc iff ``hash60(doc_id) % mod  <  quota * mod / n_stratum``
    — rearranged to the integer comparison
    ``h * n_stratum < quota * mod`` so NO doubles are involved and
    both engines keep the identical rows. Strata at or under quota
    are kept whole. Output (doc_id, stratum, n_stratum) — the stratum
    size rides along so sampling weights (n_stratum/quota) are
    available downstream without a re-join.

    Plan: one count aggregate over the stratum column (tiny result,
    broadcast back) + a scan-parallel filter. Deliberately NOT a
    per-stratum row_number window: that shape sorts every stratum and
    a 90%-English corpus makes one monster partition; this shape has
    no skewed shuffle at any scale.
    """
    st = F.coalesce(F.col(strata_col), F.lit("und")).alias("stratum")
    d = docs.select("doc_id", st)
    cnt = d.groupBy("stratum").agg(F.count(F.lit(1)).alias("n_stratum"))
    h = _op_hash("sample", "doc_id") % mod
    # threshold computed driver-side in Python (arbitrary precision)
    # and bound as a 64-bit literal: quota * mod as two int32 column
    # literals would overflow for quota > 2^31/mod
    threshold = F.lit(int(quota) * int(mod)).cast("long")
    return (
        d.join(F.broadcast(cnt), "stratum")
        .filter(h * F.col("n_stratum") < threshold)
        .select("doc_id", "stratum", "n_stratum")
    )
