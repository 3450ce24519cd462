"""Co-located bucketed join: correct results AND a shuffle-free plan."""

import pytest

from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.sources.bucketing import (
    bucketed_join,
    write_bucketed,
)


def test_bucketed_join_has_no_exchange(spark):
    left = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(1500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    old_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "t_bucket_left", "k", n_buckets=8)
        write_bucketed(right, "t_bucket_right", "k", n_buckets=8)

        joined = bucketed_join(spark, "t_bucket_left", "t_bucket_right", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        # correctness: equals the plain join
        got = joined.agg(F.count("*"), F.sum("lv"), F.sum("rv")).collect()[0]
        want = (
            left.join(right, "k")
            .agg(F.count("*"), F.sum("lv"), F.sum("rv"))
            .collect()[0]
        )
        assert tuple(got) == tuple(want)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_threshold)
        spark.sql("DROP TABLE IF EXISTS t_bucket_left")
        spark.sql("DROP TABLE IF EXISTS t_bucket_right")


def _bucket_pairs_py(rows):
    """Reference pair expansion: every (a < b) id pair sharing a key."""
    from collections import defaultdict
    from itertools import combinations

    buckets = defaultdict(set)
    for doc_id, key in rows:
        buckets[key].add(doc_id)
    return {p for ids in buckets.values() for p in combinations(sorted(ids), 2)}


def test_vectorized_minhash_matches_catalyst(spark, sf_dir):
    """The Arrow signature path (minhash_signatures, and the band strings
    minhash_lsh_pairs buckets on) must be byte-identical to the Catalyst
    explode/aggregate reference, and its pair set must equal the
    reference bands' bucket expansion."""
    import catalyst_reference as ref

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    vec = {tuple(r) for r in minhash_signatures(docs, n_seeds=8).collect()}
    cat = {tuple(r) for r in ref.minhash_signatures(docs, n_seeds=8).collect()}
    assert cat == vec and len(cat) > 0

    bands = ref.minhash_bands(docs, n_bands=4, rows_per_band=2).collect()
    p_ref = _bucket_pairs_py((r.doc_id, (r.band_id, r.band)) for r in bands)
    p_vec = {tuple(r) for r in
             minhash_lsh_pairs(docs, n_bands=4, rows_per_band=2,
                               max_bucket=None).collect()}
    assert p_ref == p_vec


def test_vectorized_simhash_matches_catalyst(spark, sf_dir):
    """simhash / simhash_wide (Arrow) must be byte-identical to the
    Catalyst explode/vote references, and simhash_near_pairs(n_bits=64)
    must return exactly the reference fingerprints' pairs within the
    Hamming bound (pigeonhole recall 1.0)."""
    from itertools import combinations

    import catalyst_reference as ref

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
        simhash_wide,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    for bits in (16, 32):
        cat = {tuple(r) for r in ref.simhash(docs, n_bits=bits).collect()}
        vec = {tuple(r) for r in simhash(docs, n_bits=bits).collect()}
        assert cat == vec and len(cat) > 0, bits

    cat_w = {tuple(r) for r in ref.simhash_wide(docs).collect()}
    vec_w = {tuple(r) for r in simhash_wide(docs).collect()}
    assert cat_w == vec_w

    from information_extraction_for_chinese_nlp_spark.plans.queries_dataprep import (
        _simhash64_df,
    )

    fixture = _simhash64_df(spark)
    fps = sorted(tuple(r) for r in ref.simhash_wide(fixture).collect())
    p_ref = set()
    for (a, a_hi, a_lo), (b, b_hi, b_lo) in combinations(fps, 2):
        ham = bin(a_hi ^ b_hi).count("1") + bin(a_lo ^ b_lo).count("1")
        if ham <= 7:
            p_ref.add((a, b, ham))
    p_vec = {tuple(r) for r in
             simhash_near_pairs(fixture, n_bits=64, n_bands=8,
                                max_hamming=7).collect()}
    assert p_ref == p_vec and len(p_ref) > 0


def test_vectorized_paths_parity_property(spark):
    """Property: on adversarial texts (CJK, repeated/leading/trailing
    spaces -> empty tokens, scrub targets, long runs) the Arrow
    minhash/simhash paths equal the Catalyst references exactly.

    The last text repeats doc_id 0: production output is per input
    row (two signatures for id 0), where the references group by id
    and would merge the two texts. So the references see that row
    under a fresh id, mapped back to 0 before comparing multisets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import catalyst_reference as ref

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        minhash_signatures,
        simhash,
    )

    token = st.text(
        alphabet=st.sampled_from("ab金額元\\n9,１　"), min_size=0, max_size=4
    )
    doc = st.lists(token, min_size=0, max_size=8).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        dup = len(texts)
        rows = [(i, t) for i, t in enumerate(texts)] + [(dup, texts[-1])]
        unique = spark.createDataFrame(rows, "doc_id long, text string")
        docs = spark.createDataFrame(
            [(0 if i == dup else i, t) for i, t in rows],
            "doc_id long, text string",
        )

        def as_ref(frame):
            return sorted(
                (0 if r[0] == dup else r[0], *r[1:]) for r in frame.collect()
            )

        cat = as_ref(ref.minhash_signatures(unique, n_seeds=3))
        vec = sorted(tuple(r) for r in minhash_signatures(docs, n_seeds=3).collect())
        assert cat == vec and len(vec) == 3 * len(rows)
        cs = as_ref(ref.simhash(unique, n_bits=16))
        vs = sorted(tuple(r) for r in simhash(docs, n_bits=16).collect())
        assert cs == vs and len(vs) == len(rows)

    check()

# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
pytestmark = pytest.mark.slow


def test_word_shingles_matches_python_reference(spark):
    """r8: word_shingles was rewritten as a zip_with chain (the old
    transform-over-indices shape re-split the document per shingle
    index under interpreted HOF evaluation). Pin both modes against an
    independent pure-Python reference across the edge cases: NULL text
    (old behavior: [NULL] / []), short docs, empty string, multi-space
    runs, leading/trailing separators, long docs."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        word_shingles,
    )

    rows = [
        (1, ""), (2, "a"), (3, "a b"), (4, "a b c d"), (5, None),
        (6, "  double  spaces "), (7, "x " * 300 + "y"), (8, " lead"),
        (9, "trail "), (10, "一 二 三 四 五"), (11, "a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def ref(text, n, keep_short):
        if text is None:
            return [None] if keep_short else []
        toks = text.split(" ")
        if len(toks) < n:
            grams = [" ".join(toks)] if keep_short else []
        else:
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        out, seen = [], set()
        for g in grams:  # array_distinct keeps first occurrence
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    for n in (2, 3, 8):
        for keep_short in (True, False):
            got = {
                r["doc_id"]: r["s"]
                for r in df.select(
                    "doc_id",
                    word_shingles(F.col("text"), n, keep_short).alias("s"),
                ).collect()
            }
            for doc_id, text in rows:
                assert got[doc_id] == ref(text, n, keep_short), (
                    n, keep_short, doc_id, got[doc_id], ref(text, n, keep_short)
                )
