"""The bucket-step contract shared by every set-similarity operator
(``dedup._bucket_pair_rows``): a NULL id never enters a bucket, and an
over-cap bucket is dropped AND counted, with ``cap=None`` as the
explicit opt-out."""

import pytest
from pyspark.sql import Observation

from information_extraction_for_chinese_nlp_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from information_extraction_for_chinese_nlp_spark.operators.similarity import (
    lsh_near_dup_pairs,
)
from information_extraction_for_chinese_nlp_spark.plans.graph import raw_match_pairs

TEXT = "the quick brown fox jumps over the lazy dog again"


def _docs(spark, ids):
    return spark.createDataFrame([(i, TEXT) for i in ids], "doc_id long, text string")


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(i, [1.0, 0.5, -0.25, 2.0]) for i in ids], "vec_id long, embedding array<float>"
    )


def _surfaces(spark, ids):
    # the linker's input is normalize_objects output; every row here is
    # the same raw surface under its own entity key
    return spark.createDataFrame(
        [("醫療費用", "smudged-amount", "nan", None if i is None else f"k{i:02d}")
         for i in ids],
        "pred string, obj string, obj_norm string, entity_key string",
    )


# name -> (spark, ids, cap, observation) -> pairs frame whose first two
# columns are the pair's ids; every row of one fixture is a duplicate
OPERATORS = {
    "minhash_lsh_pairs": lambda spark, ids, cap, obs: minhash_lsh_pairs(
        _docs(spark, ids), n_bands=2, rows_per_band=2, max_bucket=cap,
        observation=obs),
    "simhash_near_pairs_16": lambda spark, ids, cap, obs: simhash_near_pairs(
        _docs(spark, ids), max_bucket=cap, observation=obs),
    "simhash_near_pairs_64": lambda spark, ids, cap, obs: simhash_near_pairs(
        _docs(spark, ids), n_bits=64, n_bands=8, max_hamming=7, max_bucket=cap,
        observation=obs),
    "ngram_jaccard_pairs": lambda spark, ids, cap, obs: ngram_jaccard_pairs(
        _docs(spark, ids), n=3, threshold=0.1, max_df=cap, observation=obs),
    "lsh_near_dup_pairs": lambda spark, ids, cap, obs: lsh_near_dup_pairs(
        _vectors(spark, ids), threshold=0.9, max_bucket=cap, observation=obs),
    "raw_match_pairs": lambda spark, ids, cap, obs: raw_match_pairs(
        _surfaces(spark, ids), 0.6, max_bucket=cap, observation=obs),
}


def _pairs(df) -> set:
    return {(r[0], r[1]) for r in df.collect()}


@pytest.mark.parametrize("op", OPERATORS)
def test_null_id_never_enters_a_bucket(spark, op):
    """A NULL-id row duplicating two real rows yields the real pair and
    no pair with a NULL endpoint (the DuckDB oracles' ``a.id < b.id``
    semantics)."""
    pairs = _pairs(OPERATORS[op](spark, [1, None, 2], None, None))
    assert all(a is not None and b is not None for a, b in pairs), pairs
    assert len(pairs) == 1, pairs


@pytest.mark.parametrize("op", OPERATORS)
def test_over_cap_bucket_is_dropped_and_counted(spark, op):
    """A 30-clone cluster shares every bucket: at cap 10 no pair comes
    back and the Observation counts the drop; at cap=None all 435
    cluster pairs come back."""
    obs = Observation(f"cap-{op}")
    assert _pairs(OPERATORS[op](spark, range(30), 10, obs)) == set()
    assert obs.get["dropped_buckets"] >= 1
    assert obs.get["max_bucket_size"] == 30

    obs = Observation(f"nocap-{op}")
    assert len(_pairs(OPERATORS[op](spark, range(30), None, obs))) == 30 * 29 // 2
    assert obs.get["dropped_buckets"] == 0
    assert obs.get["max_bucket_size"] == 30
