"""Multi-band MinHash LSH recall on planted near-duplicate pairs.

b×r banding theory: detection probability of a Jaccard-s pair is
1-(1-s^r)^b. For s≈0.82 the default (b=4, r=2) predicts ≈0.98 recall,
while the single-band shape (b=1, r=8) predicts ≈0.17 — the recall test
pins the banded implementation actually delivering the former.
"""

from information_extraction_for_chinese_nlp_spark.operators.dedup import (
    minhash_lsh_pairs,
)

N_PAIRS = 20


def _planted_docs(spark):
    rows = []
    for i in range(N_PAIRS):
        base = [f"w{i}_{j}" for j in range(20)]
        near = base[:18] + [f"x{i}_a", f"x{i}_b"]  # Jaccard = 18/22 ≈ 0.82
        rows.append((f"a{i:02d}", " ".join(base)))
        rows.append((f"b{i:02d}", " ".join(near)))
    for i in range(10):  # unrelated distractors
        rows.append((f"z{i:02d}", " ".join(f"u{i}_{j}" for j in range(20))))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _recall(pairs_df) -> float:
    got = {tuple(r) for r in pairs_df.select("doc_a", "doc_b").collect()}
    planted = {(f"a{i:02d}", f"b{i:02d}") for i in range(N_PAIRS)}
    return len(got & planted) / len(planted)


def test_banded_lsh_recall(spark):
    docs = _planted_docs(spark)
    banded = _recall(minhash_lsh_pairs(docs, n_bands=4, rows_per_band=2))
    assert banded >= 0.8, f"banded recall {banded}"
    # single full-width band (the round-1 shape) must not beat banding
    single = _recall(minhash_lsh_pairs(docs, n_bands=1, rows_per_band=8))
    assert single <= banded


def test_simhash_pigeonhole_recall_is_total(spark, sf_dir):
    """Banding guarantee: with n_bands=4 every pair at Hamming ≤ 3
    shares a band, so simhash_near_pairs must return EXACTLY the pairs
    a brute-force all-pairs comparison finds."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(docs, n_bits=16, n_bands=4, max_hamming=3).collect()
    }
    fp = simhash(docs, n_bits=16)
    a, b = fp.alias("a"), fp.alias("b")
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    want = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    assert want, "fixture should contain near-duplicate fingerprints"
    assert got == want


def test_lsh_no_cross_pair_leakage(spark):
    docs = _planted_docs(spark)
    got = {tuple(r) for r in
           minhash_lsh_pairs(docs, n_bands=4, rows_per_band=2).collect()}
    # distractors share no tokens with anything: they can never pair
    assert not any(a.startswith("z") or b.startswith("z") for a, b in got)


def test_winnowing_guarantee(spark):
    """Schleimer et al. guarantee: any shared substring of length
    ≥ k + w - 1 produces at least one shared fingerprint; disjoint
    random texts share none."""
    from information_extraction_for_chinese_nlp_spark.operators.textstats import (
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog near the bank"
    rows = [
        ("a", "prefix one " + shared + " suffix alpha"),
        ("b", "completely different opening " + shared + " and ending"),
        ("c", "zzz qqq vvv kkk mmm nnn ppp rrr sss ttt uuu www xxx yyy"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    fps = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc["a"] & by_doc["b"], "shared span must share a fingerprint"
    assert not (by_doc["a"] & by_doc["c"])
    assert not (by_doc["b"] & by_doc["c"])


def test_simhash64_pigeonhole_recall_is_total(spark):
    """64-bit variant: every pair at Hamming ≤ n_bands-1 = 7 over the
    (hi, lo) fingerprint must be returned — brute-force equality on the
    planted near-dup fixture; the bound itself is validated."""
    import pytest
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_wide,
    )
    from information_extraction_for_chinese_nlp_spark.plans.queries_dataprep import (
        _simhash64_df,
    )

    docs = _simhash64_df(spark)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(
            docs, n_bits=64, n_bands=8, max_hamming=7
        ).collect()
    }
    fp = simhash_wide(docs)
    a, b = fp.alias("a"), fp.alias("b")
    ham = (
        F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
        + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
    )
    want = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    assert want, "fixture should contain near-duplicate fingerprints"
    assert got == want
    # low 32 bits = the classic parity construction (backward compat)
    from information_extraction_for_chinese_nlp_spark.operators.dedup import simhash

    lo32 = {(r.doc_id, r.simhash) for r in simhash(docs, n_bits=32).collect()}
    wide_lo = {(r.doc_id, r.sim_lo) for r in fp.collect()}
    assert lo32 == wide_lo
    # past the pigeonhole bound the contract refuses instead of lying
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, n_bits=64, n_bands=8, max_hamming=8)

# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
import pytest

pytestmark = pytest.mark.slow
