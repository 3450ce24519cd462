"""Graph materialization: value canonicalization, similarity merge,
vertex/edge consistency."""

import pytest
from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.plans.graph import (
    build_graph,
    normalize_objects,
)


def _edges(spark, rows):
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, prob double, doc_id string, "
        "start int, end int",
    )


def test_value_canonicalization_merges_surfaces(spark):
    edges = _edges(
        spark,
        [
            ("c1", "醫療費用", "98,532元", 0.9, "c1", 0, 7),
            ("c2", "醫療費用", "98532元", 0.8, "c2", 3, 9),
            ("c3", "醫療費用", "九萬八千五百三十二元", 0.7, "c3", 1, 11),
            ("c4", "薪資收入", "98,532元", 0.9, "c4", 0, 7),  # other pred
        ],
    )
    vertices, cedges = build_graph(edges)
    v = vertices.toPandas()
    # three identical-value surfaces under the same pred collapse to one
    med = v[v.type == "醫療費用"]
    assert len(med) == 1
    assert med.iloc[0].n_mentions == 3
    # different predicate stays a separate entity even with equal value
    assert len(v) == 2
    # every canonical edge points at an existing vertex
    ce = cedges.toPandas()
    assert set(ce.entity_id) <= set(v.entity_id)
    assert len(ce) == 4


def test_similarity_merge_for_unparseable(spark):
    edges = _edges(
        spark,
        [
            ("c1", "醫療費用", "unknown-alpha", 0.9, "c1", 0, 13),
            ("c2", "醫療費用", "unknown-alphx", 0.8, "c2", 0, 13),
            ("c3", "醫療費用", "totally-different", 0.7, "c3", 0, 17),
        ],
    )
    normed = normalize_objects(edges)
    assert normed.filter(F.col("obj_norm") != "nan").count() == 0
    vertices, cedges = build_graph(edges, link_threshold=0.6)
    v = vertices.toPandas()
    # the two near-identical surfaces merge; the third stays separate
    assert len(v) == 2
    assert sorted(v.n_mentions.tolist()) == [1, 2]


def test_canonical_text_is_most_frequent_surface(spark):
    edges = _edges(
        spark,
        [
            ("c1", "醫療費用", "1,680元", 0.9, "c1", 0, 6),
            ("c2", "醫療費用", "1,680元", 0.9, "c2", 0, 6),
            ("c3", "醫療費用", "1680元", 0.9, "c3", 0, 5),
        ],
    )
    vertices, _ = build_graph(edges)
    v = vertices.toPandas()
    assert len(v) == 1
    assert v.iloc[0].canonical_text == "1,680元"
    assert v.iloc[0].n_mentions == 3


def _junk_edges(spark):
    """Planted clusters of unparseable surfaces: three clusters of 6
    near-identical variants each (pairwise bigram Jaccard ≥ ~0.7), ten
    dissimilar singletons, spread over two predicates."""
    rows = []
    for c, base in enumerate(["ocr-junk-cluster", "colloquial-noise", "smudged-amount"]):
        pred = "醫療費用" if c % 2 == 0 else "薪資收入"
        for i in range(6):
            rows.append((f"c{c}{i}", pred, f"{base}-{i}", 0.9, f"c{c}{i}", 0, 10))
    for i in range(10):
        rows.append((f"s{i}", "醫療費用", f"zq{i}xw{i * 7}ky{i * 13}", 0.9, f"s{i}", 0, 10))
    return _edges(spark, rows)


def test_banded_pairs_match_exact_allpairs(spark):
    """The banded generator must reproduce the quadratic baseline's pair
    set on planted clusters (recall 1-(1-s^r)^b ≈ 0.9993+ at s=0.6 with
    the default b=8×r=1 — deterministic md5 banding, asserted exactly)."""
    from catalyst_reference import raw_match_pairs_exact

    from information_extraction_for_chinese_nlp_spark.plans.graph import (
        raw_match_pairs,
    )

    normed = normalize_objects(_junk_edges(spark))
    got = {(r["src"], r["dst"]) for r in raw_match_pairs(normed, 0.6).collect()}
    want = {(r["src"], r["dst"]) for r in raw_match_pairs_exact(normed, 0.6).collect()}
    assert want, "fixture must plant at least one qualifying pair"
    assert got == want
    # cross-pred pairs never form (pred is part of the bucket key)
    for a, b in got:
        assert a.split("#")[0] == b.split("#")[0]


def test_banded_pair_generation_has_no_join(spark):
    """Scale shape: candidate generation is ONE aggregation chain —
    no self-join of the raw-surface table anywhere in the plan."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import (
        raw_match_pairs,
    )

    normed = normalize_objects(_junk_edges(spark))
    plan = (
        raw_match_pairs(normed, 0.6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan


def test_banded_max_bucket_caps_degenerate_clusters(spark):
    """A bucket over the cap is dropped (same contract as the dedup
    operators) — identical surfaces land in one bucket per band."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import (
        raw_match_pairs,
    )

    rows = [(f"c{i}", "醫療費用", "same-junk-surface", 0.9, f"c{i}", 0, 10)
            for i in range(5)]
    # identical obj strings collapse in the distinct() — add distinct
    # variants that still bucket together
    rows = [(f"c{i}", "醫療費用", f"same-junk-surface-{i}", 0.9, f"c{i}", 0, 10)
            for i in range(5)]
    normed = normalize_objects(_edges(spark, rows))
    uncapped = raw_match_pairs(normed, 0.6).count()
    capped = raw_match_pairs(normed, 0.6, max_bucket=2).count()
    assert uncapped > 0
    assert capped < uncapped


def test_tfidf_alias_dict_guard(spark, monkeypatch):
    """scorer='tfidf' collects the alias dictionary driver-side to fit
    IDF — valid only under the small-curated-dict contract. Past
    MAX_TFIDF_ALIASES it must fail fast: the fit's LIMIT cap+1 collect
    is also the guard, so the driver never holds more than cap+1
    aliases."""
    from information_extraction_for_chinese_nlp_spark.operators import linking
    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )

    mentions = spark.createDataFrame(
        [("m1", "醫療費用", "98,532元")], "mention_id string, pred string, obj string"
    )
    aliases = spark.range(10).selectExpr(
        "concat('alias', id) AS alias",
        "concat('c', id) AS canonical_id",
        "concat('醫療費用#', id) AS block_key",
    )
    monkeypatch.setattr(linking, "MAX_TFIDF_ALIASES", 5)
    with pytest.raises(ValueError, match="tfidf driver-side fitting cap"):
        link_entities(mentions, aliases, scorer="tfidf")
    # under the cap the same dict links fine
    monkeypatch.setattr(linking, "MAX_TFIDF_ALIASES", 50)
    out = link_entities(mentions, aliases, scorer="tfidf")
    assert out.count() == 1


def test_embedding_scorer_links_by_cosine(spark):
    """scorer='embedding': cosine over embedding arrays, fully Catalyst;
    missing embedding columns fail fast."""
    import pytest

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )

    mentions = spark.createDataFrame(
        [("m1", "醫療費用", "98,532元", [1.0, 0.0])],
        "mention_id string, pred string, obj string, embedding array<double>",
    )
    aliases = spark.createDataFrame(
        [
            ("a1", "good", "醫療費用#98532", [0.9, 0.1]),
            ("a2", "bad", "醫療費用#98532", [0.0, 1.0]),
        ],
        "alias string, canonical_id string, block_key string, "
        "embedding array<double>",
    )
    out = link_entities(mentions, aliases, scorer="embedding").collect()
    assert len(out) == 1
    assert out[0].canonical_id == "good"
    assert out[0].score > 0.9

    with pytest.raises(ValueError, match="embedding"):
        link_entities(mentions.drop("embedding"), aliases, scorer="embedding")


# Degenerate-input contract shared by every link_entities scorer. The
# fixture keeps every score at 1.0 or 0.0 on all three scorers (exact
# surfaces, identical or orthogonal embeddings), so one expected row set
# holds for each: a NULL alias in m1's block is a 0.0 candidate, a NULL
# obj and a sub-n-gram obj score 0.0, a NULL mention_id is its own
# group, and duplicate (mention_id, obj) rows collapse into one row.
_LINK_CONTRACT_ALIASES = [
    ("98,532元", "E1", "醫療費用#98532", [1.0, 0.0]),
    (None, "E0", "醫療費用#98532", [0.0, 1.0]),
    ("1,680元", "E2", "醫療費用#1680", [0.0, 1.0]),
]
_LINK_CONTRACT_MENTIONS = [
    ("m1", "醫療費用", "98,532元", [1.0, 0.0]),
    ("m2", "醫療費用", "1,680元", [0.0, 1.0]),
    ("m2", "醫療費用", "1,680元", [0.0, 1.0]),
    ("m3", "醫療費用", None, [1.0, 0.0]),
    (None, "醫療費用", "98,532元", [1.0, 0.0]),
    ("m4", "醫療費用", "x", [1.0, 0.0]),
]


@pytest.mark.parametrize("scorer", ["jaccard", "tfidf", "embedding"])
def test_link_entities_degenerate_input_contract(spark, scorer):
    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        block_key_for_mention,
        link_entities,
    )

    mentions = spark.createDataFrame(
        _LINK_CONTRACT_MENTIONS,
        "mention_id string, pred string, obj string, embedding array<double>",
    )
    bk_x = mentions.filter(F.col("obj") == "x").select(
        block_key_for_mention(F.col("pred"), F.col("obj")).alias("bk")
    ).first().bk
    schema = ("alias string, canonical_id string, block_key string, "
              "embedding array<double>")
    # a single-char alias (zero bigrams) is the only candidate of "x"
    aliases = spark.createDataFrame(
        _LINK_CONTRACT_ALIASES + [("y", "E9", bk_x, [0.0, 1.0])], schema
    )

    def run(alias_df):
        return sorted(
            ((r.mention_id or "", r.obj or "", r.canonical_id, r.score)
             for r in link_entities(
                 mentions, alias_df, threshold=0.5, scorer=scorer).collect()),
        )

    assert run(aliases) == [
        ("", "98,532元", "E1", 1.0),
        ("m1", "98,532元", "E1", 1.0),
        ("m2", "1,680元", "E2", 1.0),
        ("m3", "", None, 0.0),
        ("m4", "x", None, 0.0),
    ], scorer
    # an empty dictionary keeps every mention, unlinked
    assert run(spark.createDataFrame([], schema)) == [
        ("", "98,532元", None, 0.0),
        ("m1", "98,532元", None, 0.0),
        ("m2", "1,680元", None, 0.0),
        ("m3", "", None, 0.0),
        ("m4", "x", None, 0.0),
    ], scorer


def test_tfidf_batch_matches_loop():
    """The vectorized batch TF-IDF scorer (what link_entities runs) must
    reproduce the per-pair reference scorer on a mention-heavy batch:
    repeated surfaces, OOV n-grams, Nulls, single-char objs (no bigrams).
    An alias outside the fitted corpus raises instead of scoring."""
    import numpy as np
    import pandas as pd
    from catalyst_reference import make_tfidf_scorer

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        make_tfidf_batch_scorer,
    )

    aliases = ["98,532元", "1,680元", "45,000元", "醫療費用給付", "保險金"]
    loop = make_tfidf_scorer(aliases)
    batch = make_tfidf_batch_scorer(aliases)

    rng = np.random.default_rng(7)
    objs = ["98,532元", "98532元", "醫療費", "x", "保險金額", "zz-oov-zz", None]
    als = aliases + [None]
    obj_s = pd.Series([objs[i] for i in rng.integers(0, len(objs), 500)])
    alias_s = pd.Series([als[i] for i in rng.integers(0, len(als), 500)])

    got = batch(obj_s, alias_s)
    want = np.array(
        [loop(o, a) for o, a in zip(obj_s, alias_s)], dtype="float64"
    )
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)
    assert got.max() > 0.9  # exact surface matches present

    # "zz-oov-zz" as BOTH obj and alias: its n-grams have no IDF weight,
    # so an unfitted alias must raise, never score silently
    for unseen in ("unseen-alias", "zz-oov-zz"):
        with pytest.raises(ValueError, match=unseen):
            batch(pd.Series(["zz-oov-zz", "98,532元"]),
                  pd.Series([unseen, aliases[0]]))


def test_tfidf_batch_throughput_scales_with_uniques():
    """Batch scorer memoizes per DISTINCT surface: a 20k-pair batch with
    50 distinct objs must not do 20k weight fits. Smoke: it returns the
    right shape and nonzero scores fast (the real delta is benched)."""
    import numpy as np
    import pandas as pd

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        make_tfidf_batch_scorer,
    )

    aliases = [f"alias-{i}-元" for i in range(200)]
    batch = make_tfidf_batch_scorer(aliases)
    rng = np.random.default_rng(3)
    obj_s = pd.Series(
        [f"alias-{i}-元" for i in rng.integers(0, 50, 20_000)]
    )
    alias_s = pd.Series(
        [aliases[i] for i in rng.integers(0, 200, 20_000)]
    )
    got = batch(obj_s, alias_s)
    assert got.shape == (20_000,)
    exact = obj_s == alias_s
    assert np.allclose(got[exact.values], 1.0)
    assert (got > 0).any() and (got <= 1.0 + 1e-12).all()


def test_tfidf_matches_per_pair_reference(spark):
    """link_entities(scorer='tfidf') must reproduce the per-pair
    reference scorer's per-mention argmax on partial (non-exact)
    matches, multi-alias blocks, OOV n-grams, and sub-ngram surfaces."""
    from catalyst_reference import make_tfidf_scorer

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        block_key_for_mention,
        link_entities,
    )

    mentions = spark.createDataFrame(
        [("m1", "醫療費用", "98,532元"), ("m2", "醫療費用", "1680元"),
         ("m3", "醫療費用", "完全不同的字串"), ("m4", "醫療費用", "x"),
         ("m5", "薪資收入", "98,532元")],
        "mention_id string, pred string, obj string",
    )
    aliases = spark.createDataFrame(
        [("98,532元", "E1", "醫療費用#98532"),
         ("98532元", "E4", "醫療費用#98532"),
         ("1,680元", "E2", "醫療費用#1680")],
        "alias string, canonical_id string, block_key string",
    )
    a = {r.mention_id: r for r in link_entities(
        mentions, aliases, threshold=0.1, scorer="tfidf").collect()}
    cands = aliases.collect()
    ref = make_tfidf_scorer([c.alias for c in cands])
    blocks = mentions.select(
        "mention_id", "obj",
        block_key_for_mention(F.col("pred"), F.col("obj")).alias("bk"),
    ).collect()
    assert a.keys() == {m.mention_id for m in blocks}
    for m in blocks:
        score, cid = max(
            [(ref(m.obj, c.alias), c.canonical_id)
             for c in cands if c.block_key == m.bk] or [(0.0, None)]
        )
        k = m.mention_id
        assert a[k].canonical_id == (cid if score >= 0.1 else None), k
        assert abs(a[k].score - score) < 1e-6, k
    # partial matches present and identical (the interesting leg)
    partial = [a[k].score for k in a if a[k].score not in (0.0, 1.0)]
    assert partial, "fixture produced no partial scores"


def test_sub_ngram_alias_stays_a_candidate(spark):
    """An alias SHORTER than the n-gram size has zero terms, but it is
    still its block's candidate: scored 0.0, linked at threshold<=0 and
    NULL canonical_id above it. Both n-gram scorers must agree on both
    sides of the threshold."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        block_key_for_mention,
        link_entities,
    )

    mentions = spark.createDataFrame(
        [("m1", "醫療費用", "x")],
        "mention_id string, pred string, obj string",
    )
    bk = mentions.select(
        block_key_for_mention(F.col("pred"), F.col("obj")).alias("bk")
    ).collect()[0].bk
    # single-char alias: zero bigrams, but it IS the block's candidate
    aliases = spark.createDataFrame(
        [("y", "E9", bk)], "alias string, canonical_id string, block_key string"
    )
    for thr, want_id in ((0.0, "E9"), (0.5, None)):
        for sc in ("tfidf", "jaccard"):
            r = link_entities(
                mentions, aliases, threshold=thr, scorer=sc
            ).collect()[0]
            assert r.canonical_id == want_id, (sc, thr)
            assert r.score == 0.0, (sc, thr)


def test_char_ngrams_short_string_is_empty(spark):
    """Sub-n-gram strings yield EMPTY gram arrays (oracle + Python
    parity): the old descending-sequence quirk emitted the whole string
    as a pseudo-gram, scoring identical 1-char surfaces Jaccard 1.0 in
    Spark vs 0.0 in DuckDB."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        char_ngrams,
        char_ngrams_multiset,
        jaccard,
    )

    row = spark.range(1).select(
        char_ngrams(F.lit("x")).alias("short"),
        char_ngrams(F.lit("ab")).alias("exact"),
        char_ngrams_multiset(F.lit("x")).alias("short_m"),
        F.round(jaccard(char_ngrams(F.lit("x")), char_ngrams(F.lit("x"))), 6).alias("j"),
    ).collect()[0]
    assert row.short == [] and row.short_m == []
    assert row.exact == ["ab"]
    assert row.j == 0.0  # union empty -> 0, matching the oracle CASE


def test_tfidf_distinct_objs_same_mention_id(spark):
    """One mention_id with TWO distinct objs must score each obj against
    its own candidates independently — merging their n-grams into one
    weight vector would corrupt both cosines silently."""
    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )

    mentions = spark.createDataFrame(
        [("m1", "醫療費用", "98,532元"), ("m1", "醫療費用", "1,680元"),
         ("m2", "醫療費用", "x")],  # sub-bigram obj must survive with 0.0
        "mention_id string, pred string, obj string",
    )
    aliases = spark.createDataFrame(
        [("98,532元", "E1", "醫療費用#98532"), ("1,680元", "E2", "醫療費用#1680")],
        "alias string, canonical_id string, block_key string",
    )
    rows = {(r.mention_id, r.obj): r for r in link_entities(
        mentions, aliases, threshold=0.3, scorer="tfidf").collect()}
    assert rows[("m1", "98,532元")].canonical_id == "E1"
    assert rows[("m1", "98,532元")].score == 1.0
    assert rows[("m1", "1,680元")].canonical_id == "E2"
    assert rows[("m1", "1,680元")].score == 1.0
    assert rows[("m2", "x")].canonical_id is None
    assert rows[("m2", "x")].score == 0.0


def test_build_kg_fuses_across_canonical_surfaces(spark):
    """Fusion AFTER canonicalization: surface variants of one value
    collapse into one entity first, THEN their mentions combine as
    noisy-or evidence — fusing raw objects would fragment the fact."""
    import math

    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg

    edges = _edges(
        spark,
        [
            # one FACT (case-1, 醫療費用, 98532) asserted via three
            # different surface spellings across two docs
            ("case-1", "醫療費用", "98,532元", 0.5, "d1", 0, 7),
            ("case-1", "醫療費用", "98532元", 0.5, "d1", 9, 15),
            ("case-1", "醫療費用", "九萬八千五百三十二元", 0.2, "d2", 0, 10),
            # same entity, different subject: separate fact
            ("case-2", "醫療費用", "98532元", 0.9, "d3", 0, 6),
        ],
    )
    vertices, fused = build_kg(edges)
    assert vertices.count() == 1  # all four mentions share one entity
    rows = {(r.subj, r.pred): r for r in fused.collect()}
    assert len(rows) == 2
    f1 = rows[("case-1", "醫療費用")]
    # noisy-or over the CANONICAL fact: 1 - 0.5*0.5*0.8 = 0.8
    assert abs(f1.fused_prob - 0.8) < 1e-9
    assert f1.n_mentions == 3 and f1.n_docs == 2
    assert f1.max_prob == 0.5 and f1.first_doc == "d1"
    f2 = rows[("case-2", "醫療費用")]
    assert abs(f2.fused_prob - 0.9) < 1e-9 and f2.n_mentions == 1
    # both facts carry the entity's canonical text (most frequent surface)
    assert f1.canonical_text == "98532元" == f2.canonical_text
    assert f1.entity_id == f2.entity_id
    assert not math.isnan(f1.fused_prob)


def test_build_kg_checkpoint_runs_upstream_once(spark, tmp_path):
    """build_kg(checkpoint=True) puts a localCheckpoint under the
    canonicalized join: materializing BOTH outputs must not re-run the
    linker/CC subtree (same discipline as curate's composition). The
    lazy localCheckpoint rewrites the plan to ExistingRDD immediately,
    so neither output's plan re-derives the parquet scan."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg

    src = str(tmp_path / "edges")
    _edges(
        spark,
        [("c%d" % i, "醫療費用", "98,532元", 0.5, "d%d" % i, 0, 7)
         for i in range(20)],
    ).write.parquet(src)
    vertices, fused = build_kg(spark.read.parquet(src))
    for df in (vertices, fused):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Scan parquet" not in plan, plan
    # and the outputs are still correct through the checkpoint boundary
    assert vertices.count() == 1
    assert fused.count() == 20
