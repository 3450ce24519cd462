"""Degenerate-cluster caps (default-on, counted drops) and the composed
exact→LSH→CC→anti-join dedup pipeline."""

import pytest
from pyspark.sql import Observation

from information_extraction_for_chinese_nlp_spark.operators import dedup as dedup_mod
from information_extraction_for_chinese_nlp_spark.operators.dedup import (
    dedup_pipeline,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

# line_dedup picks its leg from the hot-set size alone (in-row while
# n_hot <= _INROW_HOT_LIMIT); these cutoffs put ANY hot set on one leg
LINE_DEDUP_LEGS = {"inrow": 1 << 62, "relational": -1}


def _on_leg(monkeypatch, leg):
    monkeypatch.setattr(dedup_mod, "_INROW_HOT_LIMIT", LINE_DEDUP_LEGS[leg])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

# 30 identical docs (an exact-dup cluster: identical signatures -> one
# O(n²) bucket) + a near-dup pair + a loner.
CLUSTER_TEXT = "same same same text again"


def _docs(spark):
    rows = [(i, CLUSTER_TEXT) for i in range(30)] + [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
        (200, "totally unrelated words nothing shared here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_max_bucket_drops_degenerate_cluster_and_counts(spark):
    """An over-cap identical-signature bucket is dropped AND counted
    (never silent): the Observation reports how many buckets/ids were
    skipped, and no pair from the cluster survives."""
    obs = Observation("lsh-drops")
    pairs = minhash_lsh_pairs(
        _docs(spark), n_bands=2, rows_per_band=2, max_bucket=10,
        observation=obs,
    ).collect()
    touched = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert not any(i < 30 for i in touched), "dropped bucket leaked pairs"
    m = obs.get
    # the 30 clones share ALL bands -> one over-cap bucket per band
    assert m["dropped_buckets"] == 2
    assert m["dropped_ids"] == 60
    assert m["max_bucket_size"] == 30


def test_max_bucket_none_is_explicit_opt_out(spark):
    obs = Observation("lsh-nodrops")
    pairs = minhash_lsh_pairs(
        _docs(spark), n_bands=2, rows_per_band=2, max_bucket=None,
        observation=obs,
    ).collect()
    touched = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert all(i in touched for i in range(30))  # cluster pairs back
    m = obs.get
    assert m["dropped_buckets"] == 0
    assert m["max_bucket_size"] == 30


def test_max_df_caps_hot_shingles_and_counts(spark):
    obs = Observation("jac-drops")
    out = ngram_jaccard_pairs(
        _docs(spark), n=3, threshold=0.05, max_df=10, observation=obs
    ).collect()
    touched = {r.doc_a for r in out} | {r.doc_b for r in out}
    assert not any(i < 30 for i in touched)
    assert (100, 101) in {(r.doc_a, r.doc_b) for r in out}
    assert obs.get["dropped_buckets"] >= 1
    assert obs.get["max_bucket_size"] == 30


def test_dedup_pipeline_exact_prepass_then_near_then_cc(spark):
    """Composed recipe: the exact pre-pass collapses the 30-clone cluster
    to its min id BEFORE banding (so the default cap never fires), the
    near-dup pair canonicalizes to its min id via CC, and survivors come
    back with all original columns."""
    out = dedup_pipeline(_docs(spark), n_bands=2, rows_per_band=2)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    # 0 survives the exact cluster; 100 survives the near-dup component
    # (unless banding also linked 0/200 into it — doc 0's text shares no
    # vocab with the others, so it cannot share a 2-row minhash band)
    assert 0 in kept
    assert 200 in kept
    assert 100 in kept and 101 not in kept
    assert set(out.columns) == {"doc_id", "text"}


def test_decontaminate_flags_overlap_and_guards_broadcast(spark):
    """Docs sharing an n-gram with the eval corpus are flagged (distinct
    hit counts), clean docs come back with n_hits=0, and an eval side
    over the broadcast cap fails fast."""
    import pytest

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox jumps over a fence today"),
            (3, "completely different words everywhere in this one"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in decontaminate(docs, eval_docs, n=5).collect()}
    assert out[1].contaminated and out[1].n_hits == 1
    assert out[2].contaminated and out[2].n_hits == 1
    assert not out[3].contaminated and out[3].n_hits == 0

    with pytest.raises(ValueError, match="broadcast cap"):
        decontaminate(docs, eval_docs, n=2, max_eval_grams=2)


def test_dedup_pipeline_no_near_dups_keeps_all_canonicals(spark):
    rows = [(1, "aa bb cc"), (2, "aa bb cc"), (3, "zz yy xx ww vv uu")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 1 and 2 are exact dups -> 1 kept; 1 vs 3 share nothing; but with
    # only two canonical docs a shared band is still possible at r=2 —
    # disjoint vocab makes every per-seed min differ, so no pair forms.
    kept = sorted(r.doc_id for r in dedup_pipeline(docs).select("doc_id").collect())
    assert kept == [1, 3]


def test_simhash_rejects_over_32_bits(spark):
    """md5 has 32 hex digits: n_bits > 32 would silently vote every high
    bit to 0 (identical high bands for ALL docs) — must raise and point
    at simhash_wide."""
    import pytest

    from information_extraction_for_chinese_nlp_spark.operators.dedup import simhash

    with pytest.raises(ValueError, match="simhash_wide"):
        simhash(_docs(spark), n_bits=64)


def test_word_shingles_strict_mode(spark):
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        word_shingles,
    )

    df = spark.createDataFrame([("one two three",)], "text string")
    loose = df.select(word_shingles(F.col("text"), 5).alias("s")).first().s
    strict = df.select(
        word_shingles(F.col("text"), 5, keep_short=False).alias("s")
    ).first().s
    assert loose == ["one two three"]  # undersized pseudo-shingle
    assert strict == []                # zero 5-grams in a 3-token doc


def test_simhash_bucket_distribution_observed(spark):
    """Coarse-keyspace observability (VERDICT r4 task 7): simhash band
    buckets have no cap by default, so the Observation must surface the
    size distribution (max + p99) that validates the n_bands sizing rule
    — a skewed corpus shows up as max >> p99 BEFORE it melts a task."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        simhash_near_pairs,
    )

    # 40 near-identical docs (one hot fingerprint) + 20 scattered ones
    rows = [(i, "the same boilerplate template text body repeated") for i in range(40)]
    rows += [(100 + i, f"unique-{i} totally different words {i * 7919}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("simhash-dist")
    simhash_near_pairs(
        docs, n_bits=16, n_bands=4, max_hamming=3, observation=obs
    ).collect()
    m = obs.get
    assert m["dropped_buckets"] == 0          # no cap by default
    assert m["max_bucket_size"] >= 40         # the hot template bucket
    assert 0 < m["p99_bucket_size"] <= m["max_bucket_size"]


def test_line_dedup_boilerplate_removal(spark, monkeypatch):
    """Hot lines (>= min_df distinct docs) vanish from every document;
    empty lines survive as structure; per-doc drop counts are exact;
    both legs agree when every line is hot."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "BANNER\nbody zero\nFOOT"), (1, "BANNER\n\nbody one\nFOOT"),
         (2, "body two\nBANNER\nFOOT"), (3, "only unique text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, min_df=3).collect()}
    assert out[0].text == "body zero" and out[0].n_dropped == 2
    assert out[1].text == "\nbody one" and out[1].n_dropped == 2  # empty kept
    assert out[2].text == "body two" and out[2].n_dropped == 2
    assert out[3].text == "only unique text" and out[3].n_dropped == 0
    # a doc-internal repeat below min_df across docs is NOT removed
    solo = spark.createDataFrame(
        [(0, "x\nx\nx")], "doc_id long, text string"
    )
    r = line_dedup(solo, min_df=3).collect()[0]
    assert r.text == "x\nx\nx" and r.n_dropped == 0  # df counts DISTINCT docs
    # at min_df=1 every distinct non-empty line is hot (n_hot=10), so
    # every doc collapses to its empty lines — identically on both legs
    legs = {}
    for leg in LINE_DEDUP_LEGS:
        _on_leg(monkeypatch, leg)
        legs[leg] = sorted(line_dedup(docs, min_df=1).collect())
    assert legs["inrow"] == legs["relational"]
    every = {r.doc_id: r for r in legs["relational"]}
    assert len(every) == 4
    assert every[1].text == "" and every[1].n_dropped == 3  # empty line kept
    assert every[3].text == "" and every[3].n_dropped == 1


def test_line_dedup_leg_cutoff(spark):
    """The shipped cutoff: a hot set of exactly _INROW_HOT_LIMIT lines
    takes the in-row leg (no corpus explode in the plan), one more line
    takes the relational leg — with identical drops either side."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    limit = dedup_mod._INROW_HOT_LIMIT
    for n_hot, relational in ((limit, False), (limit + 1, True)):
        docs = spark.createDataFrame(
            [(d, "\n".join([f"H{j}" for j in range(n_hot)] + [f"body {d}"]))
             for d in range(3)],
            "doc_id long, text string",
        )
        out = line_dedup(docs, min_df=3)
        assert ("Generate" in _plan(out)) == relational, (n_hot, _plan(out))
        assert sorted((r.text, r.n_dropped) for r in out.collect()) == [
            (f"body {d}", n_hot) for d in range(3)]


def test_line_dedup_strategy_parity(spark, monkeypatch):
    """Both membership legs (in-row array scan, relational broadcast
    join + reassembly) return IDENTICAL rows — including hot-only docs
    (text collapses to ''), empty-line structure, and docs whose id
    column is not named doc_id; and a caller column literally named `_hot` survives the
    in-row crossJoin (collision suffix loop)."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "HOT A\nkeep zero\nHOT B", "x"),
         (1, "HOT A\n\nkeep one\nHOT B", "y"),
         (2, "HOT A\nHOT B", "z"),          # collapses to ''
         (3, "keep three\nHOT A\nHOT B", "w"),
         (4, "", "v"),                       # empty text is one empty line
         (5, None, "u"),                     # NULL text -> (NULL, NULL)
         (6, "HOT A\ndupe id a\nHOT B", "t"),
         (6, "dupe id b\nHOT A", "s")],      # duplicate id: 2 rows out
        "id long, text string, _hot string",
    )
    def key(r):
        return (r.doc_id, r.text or "", r.n_dropped if r.n_dropped is not None else -1)

    outs = {}
    for leg in LINE_DEDUP_LEGS:
        _on_leg(monkeypatch, leg)
        outs[leg] = sorted(
            line_dedup(docs, min_df=3, id_col="id").collect(), key=key
        )
    assert outs["inrow"] == outs["relational"]
    by_id = {r.doc_id: r for r in outs["inrow"]}
    assert by_id[2].text == "" and by_id[2].n_dropped == 2
    assert by_id[1].text == "\nkeep one" and by_id[1].n_dropped == 2
    assert by_id[4].text == "" and by_id[4].n_dropped == 0
    # NULL text round-trips to (NULL, NULL) on EVERY leg
    assert by_id[5].text is None and by_id[5].n_dropped is None
    # duplicate ids keep per-row multiplicity on every leg (the
    # relational reassembly groups on a per-row key, not the doc id)
    dupes = sorted(r.text for r in outs["relational"] if r.doc_id == 6)
    assert dupes == ["dupe id a", "dupe id b"]
    # a 0-hot corpus is identity on every leg
    clean = docs.select("id", F.concat(F.lit("u"), F.col("id")).alias("text"))
    for leg in LINE_DEDUP_LEGS:
        _on_leg(monkeypatch, leg)
        rows = line_dedup(clean, min_df=2, id_col="id").collect()
        assert all(r.n_dropped == 0 for r in rows)
        # u6 rides twice (duplicate id 6) but only ONE distinct doc ->
        # df=1, below min_df, so it survives on every leg
        assert sorted(r.text for r in rows) == [
            "u0", "u1", "u2", "u3", "u4", "u5", "u6", "u6"]


def test_line_dedup_clean_corpus_is_identity(spark, sf_dir):
    """The synthetic documents table has no repeated lines: line_dedup
    must be a byte-identity with n_dropped == 0 everywhere."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = line_dedup(docs, min_df=3)
    assert out.filter(F.col("n_dropped") != 0).count() == 0
    joined = docs.select("doc_id", F.col("text").alias("orig")).join(
        out, on="doc_id"
    )
    assert joined.filter(F.col("orig") != F.col("text")).count() == 0


def test_line_dedup_keep_columns(spark, monkeypatch):
    """keep= carries passenger columns through BOTH legs
    unchanged — including passengers named after the legs' INTERNAL
    working columns (_line/_s/_pos...), which the shared suffix
    discipline must clear on every leg, not just in-row; reserved
    output names are rejected."""
    import pytest

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "HOT\na zero\nHOT", "en", 7, "l0", "s0", "p0"),
         (1, "HOT\nb one", "zh", 8, "l1", "s1", "p1"),
         (2, "HOT\nc two", "en", 9, "l2", "s2", "p2")],
        "doc_id long, text string, lang string, extra int, "
        "_line string, _s string, _pos string",
    )
    passengers = ("lang", "extra", "_line", "_s", "_pos")
    outs = {}
    for leg in LINE_DEDUP_LEGS:
        _on_leg(monkeypatch, leg)
        outs[leg] = sorted(
            line_dedup(docs, min_df=3, keep=passengers).collect()
        )
    assert outs["inrow"] == outs["relational"]
    r0 = {r.doc_id: r for r in outs["inrow"]}
    assert r0[0].lang == "en" and r0[0].extra == 7 and r0[0].text == "a zero"
    assert r0[1].lang == "zh" and r0[1].n_dropped == 1
    assert r0[2]._line == "l2" and r0[2]._s == "s2" and r0[2]._pos == "p2"
    with pytest.raises(ValueError, match="collide"):
        line_dedup(docs, keep=("n_dropped",))


def test_line_dedup_rewrite_helper(spark):
    """line_dedup_rewrite (shared by curate and the CLI) preserves the
    caller's column layout with text rewritten, and its metric frame
    reports the drops."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup_rewrite,
    )

    docs = spark.createDataFrame(
        [(i, "en", f"HOT LINE\nbody {i}") for i in range(3)],
        "doc_id long, lang string, text string",
    )
    rewritten, ld = line_dedup_rewrite(docs, 3)
    assert rewritten.columns == ["doc_id", "lang", "text"]
    assert {r.text for r in rewritten.collect()} == {
        "body 0", "body 1", "body 2"}
    assert ld.agg(F.sum("n_dropped")).first()[0] == 3


@pytest.mark.slow
def test_line_dedup_randomized_three_way_oracle(spark, monkeypatch):
    """Seeded random corpora (empty lines, repeated lines, singleton
    docs, varying min_df) through BOTH membership legs must
    match an independent pure-Python reference implementation exactly.
    Slow-ish sweep; the deterministic seeds make failures replayable."""
    import random
    from collections import Counter

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    def py_oracle(rows, min_df):
        df = Counter()
        for _, text in rows:
            for line in set(text.split("\n")):
                if line != "":
                    df[line] += 1
        hot = {line for line, c in df.items() if c >= min_df}
        out = []
        for i, text in rows:
            ls = text.split("\n")
            kept = [x for x in ls if x == "" or x not in hot]
            out.append((i, "\n".join(kept), len(ls) - len(kept)))
        return sorted(out)

    for seed, min_df in ((11, 2), (12, 3), (13, 2), (14, 4)):
        rng = random.Random(seed)
        vocab = [f"line {j} content" for j in range(10)] + ["", "x"]
        rows = [
            (i, "\n".join(rng.choice(vocab)
                          for _ in range(rng.randrange(1, 7))))
            for i in range(30)
        ]
        want = py_oracle(rows, min_df)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for leg in LINE_DEDUP_LEGS:
            _on_leg(monkeypatch, leg)
            got = sorted(
                (r.doc_id, r.text, r.n_dropped)
                for r in line_dedup(docs, min_df=min_df).collect()
            )
            assert got == want, (seed, min_df, leg)


def test_line_dedup_relational_unbounded_hot_set(spark, monkeypatch):
    """The relational leg must be GENUINELY unbounded in |hot|: past
    _BROADCAST_HOT_LIMIT the hot-side join plans
    WITHOUT the F.broadcast hint (AQE picks a shuffle join), with rows
    identical to the broadcast-hinted plan."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "HOT A\nkeep zero\nHOT B"),
         (1, "HOT A\n\nkeep one\nHOT B"),
         (2, "HOT A\nHOT B"),
         (3, "keep three\nHOT A\nHOT B"),
         (4, None)],
        "doc_id long, text string",
    )

    _on_leg(monkeypatch, "relational")
    hinted = line_dedup(docs, min_df=3)
    monkeypatch.setattr(dedup_mod, "_BROADCAST_HOT_LIMIT", 0)
    unhinted = line_dedup(docs, min_df=3)
    # plan shape: the hint is present under the limit, absent past it
    assert "BroadcastHashJoin" in _plan(hinted), _plan(hinted)
    assert "BroadcastHashJoin" not in _plan(unhinted), _plan(unhinted)
    # row parity between the two relational plans (and the nullable-text
    # row round-trips on both)
    def key(r):
        return (r.doc_id, r.text or "", -1 if r.n_dropped is None else r.n_dropped)
    assert sorted(hinted.collect(), key=key) == sorted(
        unhinted.collect(), key=key)
    assert len(hinted.collect()) == 5


def test_line_dedup_rewrite_positional_layout(spark):
    """line_dedup_rewrite returns the caller's POSITIONAL column order,
    not just the same names (ADVICE r6): (doc_id, text, lang) in ->
    (doc_id, text, lang) out, so CLI/file sinks keep the schema order."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup_rewrite,
    )

    docs = spark.createDataFrame(
        [(i, f"HOT LINE\nbody {i}", "en") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    rewritten, ld = line_dedup_rewrite(docs, 3)
    assert rewritten.columns == ["doc_id", "text", "lang"]  # positional
    assert {r.text for r in rewritten.collect()} == {
        "body 0", "body 1", "body 2"}
    assert ld.agg(F.sum("n_dropped")).first()[0] == 3
