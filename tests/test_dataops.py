"""Training-data pipeline operators: dedup, similarity, quality."""

import pytest
from pyspark.sql import functions as F

from fact_extraction_spark.dataops.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, shingle_sets,
    simhash_signatures,
)
from fact_extraction_spark.dataops.similarity import (
    cosine_topk, lsh_bucketed_topk, projection_bucket, reference_planes,
)
from fact_extraction_spark.dataops.textquality import (
    language_id, quality_scores, rolling_fingerprints, token_counts,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different text about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (4, "der hund und die katze sind von dem haus"),      # german
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    groups = exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2 and groups[0]["keeper_doc_id"] == 0


def test_shingles_short_doc_fallback(spark):
    d = spark.createDataFrame([(9, "hi there")], "doc_id long, text string")
    rows = shingle_sets(d, n=3).collect()
    assert [r["shingle"] for r in rows] == ["hi there"]


def test_ngram_jaccard_exact_values(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    # docs 0 and 3 are identical: jaccard 1.0
    assert pairs[(0, 3)] == 1.0
    # docs 0 and 1 each have 7 trigrams and differ only in the last one:
    # |A∩B| = 6, |A∪B| = 8 → 0.75
    assert abs(pairs[(0, 1)] - 0.75) < 1e-6
    assert (0, 2) not in pairs


def test_minhash_lsh_matches_exact_jaccard(docs):
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    approx = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in minhash_lsh_pairs(
                  docs, n=3, num_hashes=32, bands=16, threshold=0.5).collect()}
    # verification makes emitted jaccards exact; banding at 16 bands x 2 rows
    # catches everything >= 0.5 on this corpus
    assert approx == exact
    assert (0, 3) in approx


def test_simhash_orders_similarity(docs):
    sig = {r["doc_id"]: r["simhash"]
           for r in simhash_signatures(docs, bits=16).collect()}
    assert sig[0] == sig[3]  # identical text, identical signature

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sig[0], sig[1]) < hamming(sig[0], sig[2])


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>")
    q = spark.createDataFrame([([1.0, 0.0],)], "qv array<float>")
    top = cosine_topk(vecs, q, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["cosine"] == 1.0


def test_lsh_bucket_restricts_candidates(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i % 5 + 1), float((7 * i) % 11 - 5)]) for i in range(60)],
        "vec_id long, embedding array<float>")
    planes = reference_planes(vecs, n_planes=2, stride=7)
    assert len(planes) == 2
    q = spark.createDataFrame([([2.0, 3.0],)], "qv array<float>")
    approx = lsh_bucketed_topk(vecs, q, planes, k=5).collect()
    assert 0 < len(approx) <= 5
    # every returned vector shares the query's bucket
    qb = q.select(projection_bucket("qv", planes).alias("b")).first()["b"]
    got = {r["vec_id"] for r in approx}
    buckets = {r["vec_id"]: r["b"] for r in vecs.select(
        "vec_id", projection_bucket("embedding", planes).alias("b")).collect()}
    assert all(buckets[v] == qb for v in got)


def test_language_id(docs):
    langs = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert langs[0] == "en" and langs[4] == "de"


def test_token_counts_and_quality(docs):
    tc = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
          for r in token_counts(docs).collect()}
    assert tc[0] == (9, 9)  # no punctuation: ws == bpe
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["stopword_ratio"] > q[2]["stopword_ratio"]


def test_rolling_fingerprint_matches_for_dups(docs):
    fp = {r["doc_id"]: r["fingerprint"]
          for r in rolling_fingerprints(docs).collect()}
    assert fp[0] == fp[3]
    assert fp[0] != fp[2]


# ---------------------------------------------------------------------------
# salting
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def skewed(spark):
    # 80% of fact rows hit one hot key
    large = spark.createDataFrame(
        [(i, "hot" if i % 5 != 0 else f"k{i}") for i in range(200)],
        "row_id long, key string")
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"V{i}") for i in range(0, 200, 5)],
        "key string, val string")
    return large, dim


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_equivalence(spark, skewed, how):
    from fact_extraction_spark.operators.salting import salted_join
    large, dim = skewed
    dim2 = dim.filter(F.col("key") != "k0")  # give anti/left a miss case
    expected = large.join(dim2, ["key"], how)
    got = salted_join(large, dim2, ["key"], how=how, buckets=4)
    assert sorted(map(tuple, expected.collect())) == sorted(map(tuple, got.collect()))


def test_skew_split_join_equivalence(spark, skewed):
    from fact_extraction_spark.operators.salting import hot_keys, skew_split_join
    large, dim = skewed
    hot = hot_keys(large, ["key"], min_count=50)
    assert [r["key"] for r in hot.collect()] == ["hot"]
    expected = sorted(map(tuple, large.join(dim, ["key"]).collect()))
    got = sorted(map(tuple, skew_split_join(large, dim, ["key"], hot).collect()))
    assert expected == got


def test_lsh_skew_guard_defuses_boilerplate_bomb(spark):
    """max_shingle_df: documents sharing ONLY a boilerplate suffix must not
    pair up (the suffix shingles have df = corpus size — one LSH bucket
    holding everything AND inflated Jaccard). With the guard, only the one
    genuine near-dup pair survives."""
    from fact_extraction_spark.dataops.dedup import (
        lsh_candidate_pairs, minhash_lsh_pairs, minhash_signatures,
        shingle_sets)

    boiler = (" subscribe to our newsletter all rights reserved privacy"
              " policy terms of service contact us meet the team careers"
              " press room")
    # Interleave per-doc-unique tokens so the genuine pair's shared shingles
    # stay below the df guard (shingles common to ALL docs — "unique body
    # number", "speaks about topic" — have df=11 and are rightly dropped;
    # only shingles within n-1 tokens of an {i}-bearing token survive, and
    # the survivors must put the (0,10) guarded Jaccard over the threshold:
    # 7 shared / 12 union = 0.583).
    bodies = [f"unique body number {i} id{i} speaks about topic {i * 7} "
              f"tag{i * 3} end{i}"
              for i in range(10)]
    bodies.append(bodies[0] + " extended")          # doc 10 ~ doc 0 near-dup
    docs = spark.createDataFrame(
        [(i, b + boiler * 3) for i, b in enumerate(bodies)],
        "doc_id int, text string")

    # unguarded: every doc lands in the same buckets via boilerplate
    cands_raw = lsh_candidate_pairs(
        minhash_signatures(shingle_sets(docs, 3), 32), 16).count()
    assert cands_raw == 55  # all C(11,2) pairs are candidates — the bomb

    guarded = minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=16,
                                threshold=0.5, max_shingle_df=5)
    rows = {(r["doc_a"], r["doc_b"]) for r in guarded.collect()}
    assert rows == {(0, 10)}  # only the genuine near-dup pair

    # and unguarded verification would have emitted boilerplate-only pairs
    unguarded = minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=16,
                                  threshold=0.5)
    assert unguarded.count() > 1


def test_cosine_neardup_pairs(spark):
    """Embedding-cosine near-dup: same-bucket candidates + exact verify.
    Parallel vectors pair up; orthogonal vectors share a bucket (zero dot
    counts as positive sign) but fail the cosine verify; opposite-sign
    vectors never become candidates."""
    from fact_extraction_spark.dataops.similarity import cosine_neardup_pairs

    rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]), (5, [1.0, 0.05])]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    planes = [[1.0, 0.0], [0.0, 1.0]]
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_neardup_pairs(e, planes, threshold=0.99).collect()}
    assert set(got) == {(1, 2), (1, 5), (2, 5)}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert got[(1, 5)] == pytest.approx(0.99875, abs=1e-4)
