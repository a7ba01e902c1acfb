"""Tests for the training-data pipeline operators (text analysis,
dedup ladder, similarity search, multimodal plumbing, matching).

Style follows the reference's operator-golden-test layer (SURVEY.md
§5): small deterministic inputs, exact expected outputs; plus
recall/property checks for the approximate (LSH) operators against
their exact counterparts.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelly_streaming_spark.functions import dedup as dd
from gelly_streaming_spark.functions import multimodal as mm
from gelly_streaming_spark.functions import similarity as sim
from gelly_streaming_spark.functions import text as tx
from gelly_streaming_spark.plans.matching import (
    greedy_matching,
    greedy_matching_events,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "el perro corre en la calle de la ciudad"),
    (4, "completely different words entirely here now"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )


# -- text ---------------------------------------------------------------------


def test_token_count(docs):
    got = {r["doc_id"]: r["n_tokens"] for r in tx.token_count(docs).collect()}
    assert got[0] == 9 and got[3] == 9 and got[4] == 6
    assert got[5] == 1  # split('') -> ['']


def test_quality_scores(docs):
    rows = {r["doc_id"]: r for r in tx.quality_scores(docs).collect()}
    r0 = rows[0]
    assert r0["n_stopwords"] == 2  # 'the' x2
    assert r0["n_punct"] == 0
    assert r0["quality_bucket"] == 1  # 9 tokens: review tier
    assert rows[5]["quality_bucket"] == 0
    assert abs(r0["stopword_frac"] - 2 / 9) < 1e-12


def test_lang_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[3] == "es"  # 'el', 'la' x2, 'de'
    assert got[4] == "und"


def test_fingerprint_stability_and_dup(docs):
    got = {r["doc_id"]: r["fp"] for r in tx.fingerprint(docs).collect()}
    assert got[0] == got[2]  # exact dup -> same fingerprint
    assert got[0] != got[4]
    assert len(got[0]) == 32  # md5 hex


# -- dedup --------------------------------------------------------------------


def test_dedup_exact(docs):
    groups = {r["keep_id"]: r["n_docs"] for r in dd.dedup_exact(docs).collect()}
    assert groups[0] == 2  # docs 0 and 2
    assert groups[1] == 1


def test_jaccard_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 2)] == 1.0
    # 0 vs 1 share 7 of 9 distinct tokens -> j = 7/9... wait: distinct
    # tokens of 0 = 8 ('the' dedup), of 1 = 8; common = 7; union = 9
    assert abs(pairs[(0, 1)] - 7 / 9) < 1e-12
    assert (0, 4) not in pairs


def test_jaccard_hot_token_cap_bounds_pair_volume(spark):
    """VERDICT r4 #1: a stopword shared by every doc must NOT make the
    token self-join quadratic. Synthetic corpus: 40 docs all sharing
    the stopword 'ubiquitous' but otherwise pairwise-disjoint; with
    max_df below 40 the stopword is pruned BEFORE the join, so ZERO
    pairs survive (each pair's only common token was the stopword) —
    sub-quadratic by construction. The cap is observable via
    token_df_stats, and near-dup pairs that share RARE tokens still
    surface with the identical df-pruned jaccard in both engines."""
    rows = [
        (i, f"ubiquitous tok{i}a tok{i}b tok{i}c tok{i}d") for i in range(40)
    ]
    # one true near-dup pair sharing 4 rare tokens
    rows.append((100, "ubiquitous tok0a tok0b tok0c tok0x"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )
    capped = dd.jaccard_pairs(docs, threshold=0.5, max_df=10)
    got = {(r["doc_a"], r["doc_b"]): r for r in capped.collect()}
    # only the rare-token pair survives: common = {tok0a,b,c} (3),
    # union over pruned vocab = 4 + 4 - 3 = 5
    assert set(got) == {(0, 100)}
    assert got[(0, 100)]["n_common"] == 3
    assert abs(got[(0, 100)]["jaccard"] - 3 / 5) < 1e-12
    # uncapped, every one of the 41*40/2 pairs shares the stopword
    # (threshold 0 shows the raw quadratic the cap prevents)
    n_uncapped = dd.jaccard_pairs(docs, threshold=0.0, max_df=10**9).count()
    assert n_uncapped == 41 * 40 // 2
    n_capped = dd.jaccard_pairs(docs, threshold=0.0, max_df=10).count()
    assert n_capped == 1
    # the drop is observable, not silent
    stats = {r["tok"]: r for r in dd.token_df_stats(docs, max_df=10).collect()}
    assert stats["ubiquitous"]["dropped"] and stats["ubiquitous"]["df"] == 41
    assert not stats["tok0a"]["dropped"]
    # and the DuckDB oracle twin (QUALIFY form) agrees with the capped
    # Spark output exactly
    import duckdb

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = """
    WITH toks AS (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
                  '\\s+', ' ', 'g'), ' ') AS tokens FROM documents),
    x AS (SELECT doc_id, tok FROM
            (SELECT doc_id, unnest(list_distinct(tokens)) AS tok FROM toks)
          QUALIFY count(*) OVER (PARTITION BY tok) <= 10),
    s AS (SELECT doc_id, count(*) AS n FROM x GROUP BY doc_id),
    i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
          FROM x a JOIN x b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE AS jaccard
    FROM i JOIN s sa ON sa.doc_id = i.doc_a JOIN s sb ON sb.doc_id = i.doc_b
    WHERE n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE >= 0.5"""
    oracle = con.execute(sql).fetchall()
    assert len(oracle) == 1
    (doc_a, doc_b, n_common, jac) = oracle[0]
    assert (doc_a, doc_b, n_common) == (0, 100, 3)
    assert got[(0, 100)]["jaccard"] == jac


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    }
    assert (0, 2) in pairs  # identical shingle sets always collide
    assert (0, 4) not in pairs and (3, 4) not in pairs


def test_dedup_groups_transitive_survivor_map(docs):
    """dedup_groups covers EVERY doc and closes transitively: 0~1
    (near-dup) and 0~2 (exact dup) put {0,1,2} in one cluster keeping
    min id 0; unrelated docs keep themselves."""
    got = {r["doc_id"]: r["keep_id"] for r in dd.dedup_groups(docs).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}  # every doc mapped
    assert got[0] == 0 and got[1] == 0 and got[2] == 0
    assert got[3] == 3 and got[4] == 4 and got[5] == 5
    # explicit transitivity: LSH pairs (10,11) and (11,12) but NOT
    # (10,12) — verified below — yet all three share one keep_id
    import pandas as _pd

    toks = [f"w{i}" for i in range(20)]

    def _doc(change):
        t = list(toks)
        for i, w in change.items():
            t[i] = w
        return " ".join(t)

    chain = [
        (10, _doc({})),
        (11, _doc({18: "x", 19: "x2"})),
        (12, _doc({0: "y", 1: "y2", 18: "x", 19: "x2"})),
    ]
    cdf = docs.sparkSession.createDataFrame(
        _pd.DataFrame(chain, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_pairs(cdf).collect()
    }
    assert pairs == {(10, 11), (11, 12)}  # a real chain, no direct 10-12
    cgot = {r["doc_id"]: r["keep_id"] for r in dd.dedup_groups(cdf).collect()}
    assert cgot[10] == cgot[11] == cgot[12] == 10


def test_simhash_close_for_near_dups(docs):
    got = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert got[0] == got[2]
    ham01 = bin(got[0] ^ got[1]).count("1")
    ham04 = bin(got[0] ^ got[4]).count("1")
    assert ham01 < ham04  # near-dup is closer than unrelated


def test_simhash_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_neardup_pairs(docs, max_hamming=6).collect()
    }
    assert pairs[(0, 2)] == 0


# -- embeddings ----------------------------------------------------------------

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.7, 0.7, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS],
        schema="vec_id long, embedding array<float>",
    )


def test_embedding_neardup_bruteforce(embeddings):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(embeddings, threshold=0.95).collect()
    }
    assert pairs == {(0, 1)}


def test_cosine_topk_exact(embeddings):
    q = embeddings.filter(F.col("vec_id") == 0)
    got = sim.cosine_topk(embeddings, q, k=2).collect()
    ranked = sorted(((r["rank"], r["neighbor_id"]) for r in got))
    assert ranked == [(1, 1), (2, 4)]  # nearest then next


def test_ann_lsh_recall_against_bruteforce(spark):
    # 200 deterministic vectors; ANN top-1 must agree with brute force
    # for a clear majority of queries (hyperplane LSH recall)
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        schema="vec_id long, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") % 40 == 0)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.cosine_topk(df, queries, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.ann_topk_lsh(df, queries, k=1, planes=16, bands=8).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 3  # 8 bands of 2 bits -> high recall on 5 queries


def test_rhp_signature_deterministic(embeddings):
    a = {r["vec_id"]: r["sig"] for r in sim.rhp_signatures(embeddings).collect()}
    b = {r["vec_id"]: r["sig"] for r in sim.rhp_signatures(embeddings).collect()}
    assert a == b  # md5-derived planes: no RNG state anywhere


# -- multimodal ----------------------------------------------------------------


def test_media_plumbing(docs):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") < 5))
    decoded = mm.decode_images(media)
    rows = {r["doc_id"]: r for r in decoded.collect()}
    assert len(rows) == 5
    assert rows[0]["decoder"] == "fake"
    assert rows[0]["n_bytes"] == len(DOCS[0][1].encode())
    assert 64 <= rows[0]["width"] <= 255
    # identical payload -> identical fake decode (determinism)
    assert rows[0]["phash"] == rows[2]["phash"]


def test_media_strict_raises(docs, spark):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") == 0))
    with pytest.raises(Exception):  # NotImplementedError crosses Py4J
        mm.decode_images(media, strict=True).collect()


def test_frame_sampling(docs):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") == 0))
    frames = mm.sample_frames(media, n_frames=4).collect()
    assert len(frames) == 4
    assert sorted(f["frame_idx"] for f in frames) == [0, 1, 2, 3]


def test_resize_plumbing(docs):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") < 4))
    out = {r["doc_id"]: r for r in mm.resize_images(media, max_side=100).collect()}
    assert len(out) == 4
    for r in out.values():
        assert max(r["out_width"], r["out_height"]) <= 100
        # aspect preserved within integer truncation
        assert r["out_width"] >= 1 and r["out_height"] >= 1
        assert isinstance(r["resized"], (bytes, bytearray)) and len(r["resized"]) >= 1
        assert r["decoder"] == "fake"
    # identical payloads -> identical fake resize (doc 0 and 2 share text)
    assert bytes(out[0]["resized"]) == bytes(out[2]["resized"])


def test_resize_strict_raises(docs):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") == 0))
    with pytest.raises(Exception):
        mm.resize_images(media, strict=True).collect()


def test_media_metadata_matches_text_hash(docs):
    media = mm.attach_fake_media(docs.filter(F.col("doc_id") == 0))
    row = mm.media_metadata(media).collect()[0]
    import hashlib

    assert row["content_hash"] == hashlib.md5(DOCS[0][1].encode()).hexdigest()


# -- real codec tier (pure-Python BMP/PPM, VERDICT r3 missing #1) ---------------


def _gradient(h, w):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 7) % 256, (y * 11) % 256, (x + y) % 256], axis=-1
    ).astype(np.uint8)


def test_bmp_ppm_roundtrip():
    import numpy as np

    from gelly_streaming_spark.functions import codecs

    for w in (5, 8, 3):  # exercises every 4-byte row-padding residue
        px = _gradient(6, w)
        assert np.array_equal(codecs.bmp_decode(codecs.bmp_encode(px)), px)
        assert np.array_equal(codecs.ppm_decode(codecs.ppm_encode(px)), px)
    # PPM header comments are honored
    ppm = codecs.ppm_encode(_gradient(2, 2))
    commented = b"P6\n# a comment\n2 2\n255\n" + ppm[len(b"P6\n2 2\n255\n"):]
    assert np.array_equal(codecs.ppm_decode(commented), _gradient(2, 2))
    # non-images fall through (None), never raise
    assert codecs.bmp_decode(b"BM not a real bmp") is None
    assert codecs.ppm_decode(b"P6 garbage") is None


def _media_df(spark, payloads, mime):
    return spark.createDataFrame(
        [
            (i, bytearray(p), mime, len(p))
            for i, p in enumerate(payloads)
        ],
        schema=mm.MEDIA_SCHEMA,
    )


def test_decode_images_real_bmp(spark):
    import hashlib

    from gelly_streaming_spark.functions import codecs

    px = _gradient(48, 30)
    media = _media_df(spark, [codecs.bmp_encode(px)], "image/bmp")
    # strict=True: the real codec path must carry this payload
    row = mm.decode_images(media, strict=True).collect()[0]
    assert (row["decoder"], row["width"], row["height"]) == ("bmp", 30, 48)
    assert row["phash"] == int(hashlib.md5(px.tobytes()).hexdigest()[:15], 16)


def test_resize_images_real_bmp(spark):
    import numpy as np

    from gelly_streaming_spark.functions import codecs

    px = _gradient(200, 100)
    media = _media_df(spark, [codecs.bmp_encode(px)], "image/bmp")
    row = mm.resize_images(media, max_side=64, strict=True).collect()[0]
    assert (row["decoder"], row["width"], row["height"]) == ("bmp", 100, 200)
    assert (row["out_width"], row["out_height"]) == (32, 64)
    # the emitted payload is a valid BMP of the resized pixels
    out_px = codecs.bmp_decode(bytes(row["resized"]))
    assert np.array_equal(out_px, codecs.nearest_resize(px, 32, 64))


def test_decode_images_real_ppm(spark):
    from gelly_streaming_spark.functions import codecs

    px = _gradient(10, 20)
    media = _media_df(spark, [codecs.ppm_encode(px)], "image/x-portable-pixmap")
    row = mm.decode_images(media, strict=True).collect()[0]
    assert (row["decoder"], row["width"], row["height"]) == ("ppm", 20, 10)


def test_decode_mixed_batch_tiers(spark):
    """One Arrow batch mixing a real BMP with an opaque payload:
    per-payload tiering, not per-UDF — real rows decode for real while
    unknown rows take the stub in the SAME batch (default mode)."""
    from gelly_streaming_spark.functions import codecs

    bmp = codecs.bmp_encode(_gradient(8, 8))
    media = _media_df(spark, [bmp, b"opaque-not-an-image"], "mixed")
    rows = {r["doc_id"]: r for r in mm.decode_images(media).collect()}
    assert rows[0]["decoder"] == "bmp" and rows[1]["decoder"] == "fake"


# -- matching ------------------------------------------------------------------


def test_greedy_matching_semantics(spark):
    # reference semantics (CentralizedWeightedMatching.java:68-108):
    # replace collisions iff w > 2 * sum(collision weights)
    edges = spark.createDataFrame(
        [
            (1, 2, 10, 0),
            (2, 3, 15, 1),   # 15 <= 2*10 -> rejected
            (2, 4, 25, 2),   # 25 > 2*10 -> replaces (1,2)
            (5, 6, 1, 3),
        ],
        schema="src long, dst long, val long, seq long",
    ).select("src", "dst", "val", F.expr("timestamp_micros(seq)").alias("ts"))
    got = {(r["src"], r["dst"]) for r in greedy_matching(edges).collect()}
    assert got == {(2, 4), (5, 6)}
    events = [
        (r["op"], r["src"], r["dst"]) for r in greedy_matching_events(edges).collect()
    ]
    assert ("REMOVE", 1, 2) in events and ("ADD", 2, 4) in events


def test_dominant_matching_valid_and_converged(spark):
    """Scale twin of the sequential matching: locally-dominant rounds
    yield a VALID matching (no vertex twice), are deterministic, and
    on a small graph converge to the unique greedy-by-weight maximal
    matching."""
    from gelly_streaming_spark.plans.matching import dominant_matching

    edges = spark.createDataFrame(
        [
            (1, 2, 10),
            (2, 3, 15),
            (3, 4, 9),
            (4, 5, 20),
            (5, 6, 1),
            (6, 7, 30),
            (1, 7, 2),
        ],
        schema="src long, dst long, val long",
    )
    got = {(r["src"], r["dst"]) for r in dominant_matching(edges, rounds=4).collect()}
    # greedy by weight: (6,7,30) -> (4,5,20) -> (2,3,15) -> (1,?) only
    # 1-2 blocked by 2? no: 2 matched, 1-7 blocked, so 1 unmatched
    assert got == {(6, 7), (4, 5), (2, 3)}
    again = {(r["src"], r["dst"]) for r in dominant_matching(edges, rounds=4).collect()}
    assert got == again
    # validity on a denser random graph: no vertex appears twice
    import numpy as np

    rng = np.random.default_rng(5)
    rows = {(int(a), int(b)): int(w) for a, b, w in
            zip(rng.integers(0, 60, 300), rng.integers(0, 60, 300),
                rng.integers(1, 1000, 300)) if a < b}
    dense = spark.createDataFrame(
        [(a, b, w) for (a, b), w in rows.items()], schema="src long, dst long, val long"
    )
    m = dominant_matching(dense, rounds=4).collect()
    seen = set()
    for r in m:
        assert r["src"] not in seen and r["dst"] not in seen
        seen.add(r["src"])
        seen.add(r["dst"])


def test_simhash_banding_pigeonhole_complete(spark):
    """ADVICE.md r1: byte-banding missed hamming-4..6 pairs whose
    flips spread across all 4 bytes. With max_hamming+1 bands the
    banded join must find EVERY pair at hamming <= max_hamming —
    assert exact equality with a brute-force scan of the signatures."""
    import itertools

    docs = []
    base_words = [f"w{i}" for i in range(40)]
    for d in range(12):
        words = list(base_words)
        # perturb a few tokens -> small hamming distances between docs
        for j in range(d % 4):
            words[5 * j] = f"alt{d}_{j}"
        docs.append((d, " ".join(words)))
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}
    brute = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin(sigs[a] ^ sigs[b]).count("1") <= 6:
            brute.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_neardup_pairs(df, max_hamming=6).collect()
    }
    assert got == brute  # complete (pigeonhole) AND no false positives
    assert len(brute) > 0  # the fixture actually exercises it
    # band layout sanity: 60 bits -> 4 bands of 9 + 3 of 8, all bits
    # covered exactly once
    assert dd.simhash_bands(60, 7) == [
        (0, 9), (9, 9), (18, 9), (27, 9), (36, 8), (44, 8), (52, 8)
    ]
    # uneven split keeps every bit covered exactly once
    assert sum(w for _, w in dd.simhash_bands(64, 7)) == 64


def test_rhp_recall_at_10x_and_occupancy(spark):
    """Verdict r1 done-criterion: at 10x the unit-fixture size the new
    default banding's recall must be >= the r1 (16-plane / 2-band)
    scheme's, and the bucket-occupancy histogram is logged."""
    import numpy as np

    rng = np.random.default_rng(17)
    n = 400
    base = rng.standard_normal((n, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    rows += [
        (i + 10000, [float(x) for x in (base[i] + 0.01 * rng.standard_normal(16))])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    planted = {(i, i + 10000) for i in range(40)}
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    assert exact == planted

    def recall(planes, bands):
        approx = {
            (r["id_a"], r["id_b"])
            for r in sim.rhp_neardup_pairs(
                df, threshold=0.95, planes=planes, bands=bands
            ).collect()
        }
        assert approx <= exact
        return len(approx & planted) / len(planted)

    r_new = recall(48, 4)   # current defaults
    r_old = recall(16, 2)   # r1 defaults
    assert r_new >= r_old
    assert r_new >= 0.9  # near-identical vectors must bucket together
    hist = sim.band_occupancy(sim.rhp_bands(df, planes=48, bands=4)).collect()
    print("rhp 48/4 bucket occupancy:", [(r["bucket_size"], r["n_buckets"]) for r in hist])
    # 12-bit bands at n=440: buckets stay tiny (no degenerate hot bucket)
    assert max(r["bucket_size"] for r in hist) <= 50


def test_ann_ivf_recall_and_scan_fraction(spark):
    """IVF-flat tier: top-1 recall against brute force on clustered
    data, and the candidate set actually shrinks to ~nprobe/C of the
    corpus (the point of list probing)."""
    import numpy as np

    rng = np.random.default_rng(9)
    # 8 well-separated clusters of 25 vectors
    centers = rng.standard_normal((8, 16)) * 6
    rows = []
    for i in range(200):
        c = i % 8
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 40 == 0)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.cosine_topk(df, queries, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in sim.ann_topk_ivf(df, queries, k=1, n_centroids=16, nprobe=4).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 4  # clustered data -> probing the right lists
    # assignment is a partition of the corpus
    cents = sim.ivf_centroids(df, 16)
    assign = sim.ivf_assign(df, cents)
    assert assign.count() == 200
    assert assign.select("vec_id").distinct().count() == 200


def test_rhp_params_for_scaling():
    # 10^9 vectors -> 22-bit bands; the 60-plane budget shrinks the
    # band COUNT (2x22), never the width — occupancy contract holds
    assert sim.rhp_params_for(10**9, bands=4, target_bucket=256) == (44, 2)
    assert sim.rhp_params_for(500, bands=4, target_bucket=256) == (32, 4)
    # occupancy contract: expected n / 2^bits <= 2 * target at any n
    for n in (10**3, 10**6, 10**9, 10**12):
        planes, bands = sim.rhp_params_for(n, bands=4, target_bucket=256)
        bits = planes // bands
        assert n / (2 ** bits) <= 2 * 256 or bits == 60


def test_rhp_neardup_recall_vs_bruteforce(spark):
    """LSH-bucketed near-dup must find the pairs brute force finds
    when the pair shares an LSH band (and never emit a sub-threshold
    pair)."""
    import numpy as np

    rng = np.random.default_rng(8)
    base = rng.standard_normal((40, 16)).astype("float32")
    # plant 5 near-dup pairs: vec i+100 = tiny perturbation of vec i
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    rows += [
        (i + 100, [float(x) for x in (base[i] + 0.01 * rng.standard_normal(16))])
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in sim.rhp_neardup_pairs(df, threshold=0.95).collect()
    }
    assert approx <= exact  # verify step: no false positives
    planted = {(i, i + 100) for i in range(5)}
    assert exact == planted
    assert len(approx & planted) >= 4  # high recall on near-identical vecs


def test_cooccurrence_bucket_stats_and_cap(spark):
    """The cap's observability helper must agree with a direct count,
    flag exactly the over-cap buckets, and the capped edge set must
    equal the edges of the kept buckets only (no silent caps —
    VERDICT r2 #2)."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.queries import (
        cooccurrence_bucket_stats,
        cooccurrence_edges,
    )

    sf = "/root/testdata/sf0.001"
    stats = cooccurrence_bucket_stats(spark, sf, max_bucket=2).collect()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    buckets = (
        ev.select(
            "user_id", "event_type", F.window("ts", "1 hour")["start"].alias("wb")
        )
        .distinct()
        .groupBy("event_type", "wb")
        .agg(F.sort_array(F.collect_list("user_id")).alias("us"))
        .collect()
    )
    direct = {(r["event_type"], r["wb"]): len(r["us"]) for r in buckets}
    assert {(r["event_type"], r["wb"]): r["users"] for r in stats} == direct
    for r in stats:
        assert r["dropped"] == (r["users"] > 2)
        assert r["pairs"] == r["users"] * (r["users"] - 1) / 2
    dropped = sum(1 for r in stats if r["dropped"])
    assert dropped > 0  # the tiny cap actually bites at sf0.001
    # buckets of exactly max_bucket users are kept and give their pair
    assert any(r["users"] == 2 for r in stats)
    kept = {(r["us"][0], r["us"][1], r["wb"]) for r in buckets if len(r["us"]) == 2}
    capped = {
        (r["src"], r["dst"], r["ts"])
        for r in cooccurrence_edges(spark, sf, max_bucket=2).collect()
    }
    assert capped == kept
    uncapped = cooccurrence_edges(spark, sf, max_bucket=10**9).count()
    assert len(capped) < uncapped


# -- repetition / PII ----------------------------------------------------------


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "spam spam spam spam"),
            (2, ""),
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    r0 = rows[0]
    assert (r0["n_tokens"], r0["n_distinct_tokens"]) == (9, 8)  # 'the' x2
    assert (r0["n_bigrams"], r0["n_distinct_bigrams"]) == (8, 8)
    assert abs(r0["distinct_token_frac"] - 8 / 9) < 1e-15
    r1 = rows[1]
    assert (r1["n_tokens"], r1["n_distinct_tokens"]) == (4, 1)
    assert (r1["n_bigrams"], r1["n_distinct_bigrams"]) == (3, 1)
    assert r1["distinct_bigram_frac"] == 1 / 3
    r2 = rows[2]  # split('') -> [''] like token_count
    assert (r2["n_tokens"], r2["n_bigrams"]) == (1, 0)
    assert r2["distinct_bigram_frac"] == 0.0


def test_pii_stats_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (0, "mail a.user+x@mail.example.com phone +1 (202) 555-0042 done"),
            (1, "hosts 10.1.2.3 and 192.168.0.255"),
            (2, "ref 123-45-6789 is an SSN, not a phone"),
            (3, "nothing sensitive here"),
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.pii_stats(df).collect()}
    assert (rows[0]["n_email"], rows[0]["n_phone"]) == (1, 1)
    assert rows[1]["n_ipv4"] == 2 and rows[1]["pii_total"] == 2
    # the SSN must NOT double-count as a phone
    assert (rows[2]["n_ssn"], rows[2]["n_phone"]) == (1, 0)
    assert rows[3]["pii_total"] == 0 and rows[3]["redact_delta"] == 0

    red = {r["doc_id"]: r["text"] for r in tx.redact_pii(df).collect()}
    assert red[0] == "mail <PII> phone <PII> done"
    assert red[1] == "hosts <PII> and <PII>"
    assert red[2] == "ref <PII> is an SSN, not a phone"
    assert red[3] == "nothing sensitive here"
    # redact_delta is exactly the redaction length change
    for i in red:
        orig = df.where(F.col("doc_id") == i).collect()[0]["text"]
        assert rows[i]["redact_delta"] == len(orig) - len(red[i])


def test_transition_edges(spark):
    """Empirical Markov transitions: per-key ordered bigrams, counts
    and probabilities exact; keys never bleed into each other; the
    probability is one division of two exact longs."""
    from gelly_streaming_spark.functions.sequences import transition_edges

    df = spark.createDataFrame(
        [
            # user 1: a -> b -> a -> c      (a->b, b->a, a->c)
            (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
            # user 2: b -> a                (b->a)
            (2, 1, "b"), (2, 2, "a"),
            # user 3: single event -> no transitions
            (3, 1, "c"),
        ],
        schema="uid long, seq long, label string",
    )
    out = transition_edges(df, key="uid", label="label", order_by=["seq"])
    rows = {(r["src_label"], r["dst_label"]): r for r in out.collect()}
    assert set(rows) == {("a", "b"), ("b", "a"), ("a", "c")}
    assert rows[("a", "b")]["n_transitions"] == 1
    assert rows[("b", "a")]["n_transitions"] == 2
    # out of 'a': 2 transitions total -> prob 0.5 each; out of 'b': 1.0
    assert rows[("a", "b")]["prob"] == 0.5
    assert rows[("a", "c")]["prob"] == 0.5
    assert rows[("b", "a")]["prob"] == 1.0
    # no cross-user bigram (u1 ends 'c', u2 starts 'b': no c->b)
    assert ("c", "b") not in rows
    # plan sanity: the lag is a window, not a self-join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan.split("Window")[0]


# -- corpus curation ----------------------------------------------------------


def test_contamination_overlap(spark):
    """Decontamination scan: a corpus doc sharing a word-3-gram with a
    benchmark doc is reported with exact shingle/doc counts; the
    bench-side hot-shingle cap drops boilerplate n-grams."""
    from gelly_streaming_spark.functions import curation as cu
    from gelly_streaming_spark.functions.hashing import hash60_py

    bench_ids = [i for i in range(200) if hash60_py(f"bench|{i}") % 20 == 0]
    corp_ids = [i for i in range(200) if hash60_py(f"bench|{i}") % 20 != 0]
    assert len(bench_ids) >= 2
    b0, b1 = bench_ids[0], bench_ids[1]
    c_hit, c_miss = corp_ids[0], corp_ids[1]
    rows = [
        (b0, "alpha beta gamma delta epsilon"),
        (b1, "zeta eta theta iota kappa"),
        # shares exactly the shingles "alpha beta gamma" and
        # "beta gamma delta" with b0 (4 shingles of its own)
        (c_hit, "alpha beta gamma delta xx yy"),
        (c_miss, "totally unrelated words live here"),
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in cu.contamination_overlap(docs, bench_mod=20).collect()
    }
    assert set(got) == {c_hit}
    r = got[c_hit]
    assert r["n_shingles"] == 4
    assert r["n_hit_shingles"] == 2
    assert r["n_bench_docs"] == 1
    assert r["contaminated_frac"] == 2 / 4

    # cap: with max_bench_df=1 a shingle present in BOTH bench docs is
    # dropped before the join, so a corpus doc matching only that
    # shingle reports nothing
    rows2 = [
        (b0, "common shingle words here"),
        (b1, "common shingle words there"),
        (c_hit, "common shingle words elsewhere"),
    ]
    docs2 = spark.createDataFrame(rows2, schema="doc_id long, text string")
    hits2 = cu.contamination_overlap(
        docs2, bench_mod=20, max_bench_df=1
    ).collect()
    assert all(r["n_hit_shingles"] == 0 for r in hits2) or hits2 == []


def test_split_assign_leakage_invariant(docs, spark):
    """Dedup-aware splits: every near-dup cluster lands in exactly ONE
    split (hash-of-keep_id, not hash-of-doc), all docs are assigned."""
    from gelly_streaming_spark.functions import curation as cu

    assigned = cu.split_assign(dd.dedup_groups(docs))
    out = assigned.collect()
    assert len(out) == docs.count()
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    by_group = {}
    for r in out:
        by_group.setdefault(r["keep_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    # docs 0/1/2 are a near-dup cluster (exact + near): one keep_id,
    # hence one split for all three
    ids = {r["doc_id"]: r for r in out}
    assert ids[0]["keep_id"] == ids[1]["keep_id"] == ids[2]["keep_id"] == 0
    assert ids[0]["split"] == ids[1]["split"] == ids[2]["split"]

    stats = {r["split"]: r for r in cu.split_stats(assigned).collect()}
    assert sum(r["n_docs"] for r in stats.values()) == len(out)
    assert sum(r["n_groups"] for r in stats.values()) == len(by_group)


def test_curation_hash_selections_independent(spark):
    """Each curation op hashes its own domain: over singleton docs
    (every doc is its own near-dup survivor) the benchmark slice must
    not fall wholly into one split. With one shared hash, h % 20 == 0
    forces h % 100 into {0, 20, 40, 60, 80}, all in train."""
    import random

    from gelly_streaming_spark.functions import curation as cu

    rng = random.Random(11)
    words = [f"w{i}" for i in range(50_000)]
    rows = [(i, " ".join(rng.sample(words, 8))) for i in range(2_000)]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    bench = cu.benchmark_flagged(docs).filter("is_bench").select("doc_id")
    split = cu.split_assign(dd.dedup_groups(docs))
    got = {
        r["split"]: r["n"]
        for r in split.join(bench, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert split.filter("keep_id != doc_id").count() == 0
    assert sum(got.values()) >= 50
    assert got.get("val", 0) + got.get("test", 0) > 0, got


def test_stratified_sample_deterministic(spark):
    """Hash-threshold stratified sampling: strata at/under quota kept
    whole; the kept set is EXACTLY the integer-math predicate (so any
    engine computing the same hash keeps the same rows)."""
    from gelly_streaming_spark.functions import curation as cu
    from gelly_streaming_spark.functions.hashing import hash60_py

    rows = [(i, "big" if i < 180 else "small") for i in range(200)]
    docs = spark.createDataFrame(rows, schema="doc_id long, lang string")
    docs = docs.withColumn("text", F.lit("x"))
    got = cu.stratified_sample(docs, quota=50).collect()
    kept = {r["doc_id"] for r in got}
    n = {"big": 180, "small": 20}
    expected = {
        i
        for i, s in rows
        if (hash60_py(f"sample|{i}") % cu.SAMPLE_MOD) * n[s] < 50 * cu.SAMPLE_MOD
    }
    assert kept == expected
    # small stratum (20 <= quota 50) kept whole
    assert {i for i in kept if i >= 180} == set(range(180, 200))
    # big stratum actually sampled (strictly between 0 and 180)
    n_big = len([i for i in kept if i < 180])
    assert 0 < n_big < 180
    # n_stratum rides along correctly
    assert {r["n_stratum"] for r in got} == {180, 20}
    # quota > 2^31/mod must not overflow the threshold literal
    # (computed driver-side as a 64-bit lit): everything is kept
    assert cu.stratified_sample(docs, quota=5000).count() == 200


def test_embedding_dedup_groups_transitive(spark):
    """Semantic dedup endgame: chained near-dups (A~B, B~C with A,C
    not directly paired at the threshold) collapse into ONE group
    keeping min id; isolated vectors keep themselves."""
    import numpy as np

    base = np.zeros(16, dtype="float64")
    base[0] = 1.0
    rot = np.zeros(16, dtype="float64")
    rot[1] = 1.0

    def unit(theta):
        v = np.cos(theta) * base + np.sin(theta) * rot
        return [float(x) for x in v]

    # cos(0.2)=0.980, cos(0.4)=0.921: 0~1 and 1~2 clear 0.95, 0~2
    # does not -> transitivity must merge all three anyway
    rows = [
        (0, unit(0.0)),
        (1, unit(0.2)),
        (2, unit(0.4)),
        (3, [0.0] * 15 + [1.0]),  # orthogonal: isolated
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>"
    )
    # 8 one-bit bands: a 0.2-rad pair misses a single band with
    # p~0.06, all 8 with p~1e-10 -> candidate recall ~1 here and the
    # cosine verify + CC closure is what's actually tested
    got = {
        r["vec_id"]: r["keep_id"]
        for r in dd.embedding_dedup_groups(
            df, threshold=0.95, planes=8, bands=8, num_shards=2
        ).collect()
    }
    # direct pair 0-2 is sub-threshold...
    direct = {
        (r["id_a"], r["id_b"])
        for r in sim.rhp_neardup_pairs(
            df, threshold=0.95, planes=8, bands=8
        ).collect()
    }
    assert (0, 2) not in direct and (0, 1) in direct and (1, 2) in direct
    # ...yet the closure puts all three in the min-id group
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_vocab_topk_order_and_plan(spark, tmp_path):
    """Global top-k vocabulary via the REAL registry query: exact
    (df desc, tok asc) order with ranks, and the pre-limit plan is
    TakeOrderedAndProject (per-partition top-k partials) — the only
    full sort anywhere is the k-row rank window AFTER the limit."""
    import pandas as pd
    from gelly_streaming_spark.queries import q_vocab_topk

    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "banana date"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    out = q_vocab_topk(spark, str(tmp_path))
    got = [(r["tok"], r["df"], r["rank"]) for r in out.collect()]
    # banana df=3; apple/cherry/date df=1 -> tie broken alphabetically
    # (df distinct per doc: apple counts once for doc 0)
    assert got == [
        ("banana", 3, 1),
        ("apple", 1, 2),
        ("cherry", 1, 3),
        ("date", 1, 4),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # everything BELOW the TakeOrdered (the corpus-sized part of the
    # plan) contains no Sort; the rank window above it sorts <= k rows
    below = plan.split("TakeOrderedAndProject", 1)[1]
    assert "Sort " not in below


def test_pack_sequences_concat_and_chunk(spark):
    """Packing: within a bucket, offsets are the running token sum in
    (hash, doc_id) order; seq_idx/tok_offset implement concat-and-chunk
    at the budget; recomputed exactly in Python."""
    from gelly_streaming_spark.functions import curation as cu
    from gelly_streaming_spark.functions.hashing import hash60_py

    rows = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(40)]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        r["doc_id"]: (r["bucket"], r["seq_idx"], r["tok_offset"], r["n_tokens"])
        for r in cu.pack_sequences(docs, budget_tokens=10, num_buckets=4).collect()
    }
    # python reference fold
    per_bucket = {}
    for i, text in rows:
        h = hash60_py(f"pack|{i}")
        per_bucket.setdefault(h % 4, []).append((h, i, len(text.split())))
    expect = {}
    for b, lst in per_bucket.items():
        off = 0
        for h, i, n in sorted(lst):
            expect[i] = (b, off // 10, off % 10, n)
            off += n
    assert got == expect


def test_corpus_report_exact(spark):
    from gelly_streaming_spark.functions import curation as cu

    rows = [
        (0, "a b c", "s1"),
        (1, "a b c", "s1"),   # exact dup inside s1
        (2, "d e", "s1"),
        (3, "x", None),       # null source -> 'und'
    ]
    docs = spark.createDataFrame(
        rows, schema="doc_id long, text string, source string"
    )
    got = {r["grp"]: r for r in cu.corpus_report(docs).collect()}
    s1 = got["s1"]
    assert (s1["n_docs"], s1["total_tokens"], s1["n_unique_texts"]) == (3, 8, 2)
    assert s1["mean_tokens"] == 8 / 3 and s1["dup_frac"] == 1 / 3
    und = got["und"]
    assert (und["n_docs"], und["n_unique_texts"], und["dup_frac"]) == (1, 1, 0.0)


def test_pair_volume_past_bigint_multiply(spark):
    """The ``pairs`` diagnostic of token_df_stats and
    cooccurrence_bucket_stats above n ≈ 3.04e9, where a BIGINT
    n*(n-1) overflows: Spark must not wrap negative, DuckDB must not
    raise, and the two engines must agree."""
    import duckdb

    from gelly_streaming_spark.functions.buckets import pair_volume
    from gelly_streaming_spark.queries import SQL_PAIR_VOLUME

    n = 3_100_000_000
    got = (
        spark.createDataFrame([(n,)], "df bigint")
        .select(pair_volume("df").alias("pairs"))
        .first()["pairs"]
    )
    want = duckdb.sql(
        f"SELECT {SQL_PAIR_VOLUME.format(n='df')} AS pairs"
        f" FROM (SELECT {n}::BIGINT AS df)"
    ).fetchone()[0]
    assert got > 0 and got == want == n * (n - 1) / 2
