"""Operator-level dedup tests on synthetic corpora with PLANTED
duplicates — the driver tables contain none, so oracle parity alone
can't show the operators collapse anything. These pin the semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.text import words
from kafka_go_streamer_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    shingles_of,
    with_minhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "quick the brown fox jumps over the lazy dog near the river bank"),  # word-shuffled 1
    (4, "a completely different document about spark query planning and shuffles"),
    (5, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (6, "unrelated text with zero overlap whatsoever in any shingle at all"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup_collapses_exact_and_shuffled(spark):
    out = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in exact_dedup(_df(spark), "doc_id").collect()
    }
    # 1, 2 and 3 share a bag fingerprint (same word multiset/set)
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[4][1] and out[5][1] and out[6][1]


def test_minhash_finds_near_duplicates(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(_df(spark), "doc_id", min_intersection=2).collect()
    }
    # identical docs: jaccard 1.0 through the LSH path
    assert pairs[(1, 2)] == 1.0
    # near-dup (one word changed at the end): high but < 1
    assert (1, 5) in pairs and 0.5 < pairs[(1, 5)] < 1.0
    # the unrelated doc pairs with nothing
    assert not any(6 in p for p in pairs)


def test_shingle_construction(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    got = df.select(shingles_of(words(F.col("text"))).alias("sh")).collect()[0]["sh"]
    assert sorted(got) == ["a b c", "b c d"]
    # short doc -> whole text as single shingle
    df2 = spark.createDataFrame([(1, "a b")], "id int, text string")
    got2 = df2.select(shingles_of(words(F.col("text"))).alias("sh")).collect()[0]["sh"]
    assert got2 == ["a b"]


def test_minhash_signature_identical_for_identical_docs(spark):
    sigs = with_minhash(_df(spark), "text").select("doc_id", "sig0", "sig1").collect()
    by_id = {r["doc_id"]: (r["sig0"], r["sig1"]) for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[6]


def test_simhash64_identical_docs_and_sign_bit(spark):
    """64-bit signatures: identical docs hash identically (Hamming 0),
    near-identical docs land within the banding's pigeonhole radius,
    and the width is really 64 bits (the sign bit is exercised, which
    is where BIGINT-unsafe oracles break)."""
    from kafka_go_streamer_spark.operators.dedup import simhash64_table

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog near the river",
                "the quick brown fox jumps over the lazy dog near the river",
                "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                "completely different words about spark query plans",
            ]
        )],
        "doc_id int, text string",
    )
    sig = {
        r["doc_id"]: r["simhash64"]
        for r in simhash64_table(docs, "doc_id").collect()
    }
    assert sig[0] == sig[1]
    assert sig[0] != sig[2] != sig[3]
    # 60-word synthetic corpus: at least one signature must set a bit
    # above 31, proving the second md5 half is wired in
    assert any(abs(s) >> 32 != 0 for s in sig.values())


def test_simhash64_band_extraction_handles_sign_band(spark):
    """(sh >> 56) & 255 must yield the unsigned top byte for negative
    signatures on the Spark side (the oracle side is probed in the
    parity suite)."""
    df = spark.createDataFrame(
        [(-9223372036854775808,), (-1,), (255,)], "sh long"
    )
    got = [
        r["k"]
        for r in df.select(
            F.shiftright(F.col("sh"), 56).bitwiseAND(F.lit(255)).alias("k")
        ).collect()
    ]
    assert got == [128, 255, 0]
