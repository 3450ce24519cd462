"""ANN paths: IVF recall vs brute force; LSH bucket determinism;
multiprobe LSH recall on planted near-duplicates."""

import itertools
import math

import pytest

import numpy as np
from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    hyperplane_lsh_buckets,
    ivf_topk,
)


def test_ivf_recall_against_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 20)

    exact = brute_force_topk(emb, queries, k=3).toPandas()
    approx = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=4).toPandas()

    exact_pairs = set(zip(exact.qid, exact.nid))
    approx_pairs = set(zip(approx.qid, approx.nid))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # half the cells probed -> decent recall; exact bound depends on the
    # synthetic cluster structure (labels), which k-means recovers well
    assert recall >= 0.6, f"IVF recall@3 = {recall}"

    # full probe = exact search
    full = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=8).toPandas()
    assert set(zip(full.qid, full.nid)) == exact_pairs


def test_ivf_sampled_fit_recall_parity(spark, sf_dir):
    """fit_fraction trains the coarse quantizer on a deterministic
    md5-keyed sample, then assigns the FULL corpus: recall vs brute
    force must hold at the full-fit bar (the centroids estimate a
    density — a 25% sample recovers the synthetic label clusters just
    as well), the sample must be layout-independent (same result after
    a repartition), and full-probe search must stay exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 20)

    exact = brute_force_topk(emb, queries, k=3).toPandas()
    exact_pairs = set(zip(exact.qid, exact.nid))
    sampled = ivf_topk(
        emb, queries, k=3, n_cells=8, n_probe=4, fit_fraction=0.25
    ).toPandas()
    recall = len(exact_pairs & set(zip(sampled.qid, sampled.nid))) / len(
        exact_pairs
    )
    assert recall >= 0.6, f"sampled-fit IVF recall@3 = {recall}"

    # the SAMPLE is layout-independent (md5 keep decisions don't move
    # with partitioning — the sample_stratified discipline; the KMeans
    # fit itself inherits MLlib's layout-sensitive k-means|| init, true
    # of the full-fit path too) and its size tracks the fraction
    from information_extraction_for_chinese_nlp_spark.functions.hashing import (
        md5_long,
    )
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
    )

    h = md5_long(
        F.concat_ws("#", F.lit("ivf#42"), F.col("vec_id").cast("string"))
    ) % 1000000
    keep = F.lit(int(round(0.25 * 1000000)))
    s1 = {r.vec_id for r in emb.filter(h < keep).select("vec_id").collect()}
    s2 = {r.vec_id for r in
          emb.repartition(7).filter(h < keep).select("vec_id").collect()}
    assert s1 == s2
    n = emb.count()
    assert 0.15 * n <= len(s1) <= 0.35 * n

    # full probe over a sampled-fit index is still exact search
    full = ivf_topk(
        emb, queries, k=3, n_cells=8, n_probe=8, fit_fraction=0.25
    ).toPandas()
    assert set(zip(full.qid, full.nid)) == exact_pairs

    with pytest.raises(ValueError, match="fit_fraction"):
        ivf_assignments(emb, n_cells=8, fit_fraction=0.0)
    # a sample too thin to carry k centroids fails fast with a clear
    # message, not an opaque MLlib error
    with pytest.raises(ValueError, match="n_cells"):
        ivf_assignments(emb, n_cells=8, fit_fraction=1e-6)


def test_multiprobe_lsh_recall_on_near_dups(spark):
    """Perturbed clones (cos ≈ 0.97) must be retrieved by multiprobe
    LSH: per-bit agreement p = 1 - θ/π ≈ 0.92, so probing Hamming
    radius 2 over 6 planes predicts ≈0.98 recall; radius must be
    monotone (more probes can only add candidates)."""
    rng = np.random.RandomState(7)
    base = rng.randn(200, 16).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    n_q = 40
    noise = rng.randn(n_q, 16).astype(np.float32)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    queries_np = base[:n_q] + 0.25 * noise  # cosine ≈ 0.97 to base[i]

    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10_000 + i, queries_np[i].tolist()) for i in range(n_q)],
        "vec_id long, embedding array<float>",
    )

    def recall(max_hamming):
        got = ann_topk(corpus, queries, k=3, n_planes=6, max_hamming=max_hamming)
        hits = {
            r.qid for r in got.collect() if r.nid == r.qid - 10_000
        }
        return len(hits) / n_q

    r0, r2 = recall(0), recall(2)
    assert r2 >= 0.8, f"multiprobe d=2 recall {r2}"
    assert r2 >= r0


def test_lsh_buckets_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = hyperplane_lsh_buckets(emb, n_planes=6).toPandas().set_index("vec_id")
    b = hyperplane_lsh_buckets(emb, n_planes=6).toPandas().set_index("vec_id")
    assert (a.bucket == b.bucket).all()
    assert a.bucket.str.len().eq(6).all()


def test_ivf_index_reuse_matches_one_shot(spark, sf_dir):
    """Build-once/search-many: a persisted index searched twice gives
    the same answers as the one-shot wrapper."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q1 = emb.filter(F.col("vec_id") < 5)
    q2 = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))

    assigned, centroids = ivf_assignments(emb, n_cells=8)
    assigned = assigned.cache()
    one_shot = {tuple(r) for r in ivf_topk(emb, q1, k=3, n_cells=8, n_probe=4).collect()}
    reused = {tuple(r) for r in ivf_search(assigned, centroids, q1, k=3, n_probe=4).collect()}
    assert reused == one_shot
    # second wave reuses the same index without retraining
    wave2 = ivf_search(assigned, centroids, q2, k=3, n_probe=4)
    assert wave2.count() > 0
    assert {r.qid for r in wave2.select("qid").distinct().collect()} == {5, 6, 7, 8, 9}


def test_lsh_near_dup_pairs_on_unlabeled_corpus(spark):
    """Multiprobe-blocked near-dup on an unlabeled corpus: planted
    perturbed clones (cos ≈ 0.97) are recovered at high recall with no
    label column and no all-pairs join."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(150, 16).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    n_dup = 30
    noise = rng.randn(n_dup, 16).astype(np.float32)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    dups = base[:n_dup] + 0.25 * noise
    rows = [(i, base[i].tolist()) for i in range(150)]
    rows += [(1000 + i, dups[i].tolist()) for i in range(n_dup)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = lsh_near_dup_pairs(corpus, threshold=0.9, n_planes=6, max_hamming=1)
    pairs = {(r.vec_a, r.vec_b) for r in got.collect()}
    planted = {(i, 1000 + i) for i in range(n_dup)}
    recall = len(pairs & planted) / n_dup
    assert recall >= 0.8, f"near-dup recall {recall}"
    # precision: nothing organic reaches cosine 0.9 in random 16-d data
    assert pairs <= planted


def test_ivf_numpy_assignment_matches_catalyst(spark, sf_dir):
    """The scale-safe numpy query-cell assignment must equal the
    Catalyst-literal oracle (same squared-L2, same ascending-cell tie
    order) through the full search, at n_cells=16."""
    from catalyst_reference import ivf_search as ivf_search_ref

    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 20)
    assigned, centroids = ivf_assignments(emb, n_cells=16)
    assigned = assigned.cache()
    new = {tuple(r) for r in
           ivf_search(assigned, centroids, queries, k=3, n_probe=4).collect()}
    old = {tuple(r) for r in
           ivf_search_ref(assigned, centroids, queries, k=3, n_probe=4).collect()}
    assert new == old
    assert len(new) > 0


def test_ivf_plan_constant_in_n_cells(spark, sf_dir):
    """At n_cells=1024 the literal-expression plan would hold ~1024×dim
    literal nodes; the numpy assignment plan must stay constant-size
    (and actually execute)."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.RandomState(3)
    cents_small = [list(map(float, v)) for v in rng.randn(16, dim)]
    cents_big = [list(map(float, v)) for v in rng.randn(1024, dim)]
    assigned = emb.select(
        "vec_id", "embedding", (F.col("vec_id") % 1024).cast("int").alias("cell")
    )

    def plan_len(cents):
        df = ivf_search(assigned, cents, queries, k=3, n_probe=4)
        return len(df._jdf.queryExecution().executedPlan().toString()), df

    small_len, _ = plan_len(cents_small)
    big_len, big_df = plan_len(cents_big)
    assert big_len < 2 * small_len, (small_len, big_len)
    assert big_df.count() >= 0  # executes without codegen blowup


def test_ivf_index_persistence_roundtrip(spark, sf_dir, tmp_path):
    """save/load through TableIO: a reloaded index must answer queries
    identically to the in-session one (build-once/search-many across
    JOBS, not just one session)."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
        ivf_search,
        load_ivf_index,
        save_ivf_index,
    )
    from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_assignments(emb, n_cells=8)

    io = TableIO(spark, str(tmp_path / "wh"))
    save_ivf_index(io, assigned, centroids, name="ivf8")
    re_assigned, re_cents = load_ivf_index(io, name="ivf8")
    assert re_cents == [[float(x) for x in c] for c in centroids]

    live = {tuple(r) for r in
            ivf_search(assigned, centroids, queries, k=3, n_probe=4).collect()}
    reloaded = {tuple(r) for r in
                ivf_search(re_assigned, re_cents, queries, k=3, n_probe=4).collect()}
    assert live == reloaded and len(live) > 0


def test_zero_norm_vectors_never_match(spark):
    """An all-zero embedding (embedding-service failure row) must not
    crash ANSI-mode division and must be excluded from top-k, the same
    rows the Catalyst reference's NULL-cosine filter drops."""
    from catalyst_reference import brute_force_topk as brute_force_topk_ref

    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        brute_force_topk,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    bf = sorted(map(tuple, brute_force_topk(emb, q, k=3).collect()))
    ref = sorted(map(tuple, brute_force_topk_ref(emb, q, k=3).collect()))
    assert bf == ref
    assert all(r[1] != 2 for r in bf), "zero-norm corpus row surfaced"
    # zero-norm QUERY yields no rows instead of crashing
    zq = emb.filter("vec_id = 2")
    assert brute_force_topk(emb, zq, k=3).count() == 0
    assert brute_force_topk_ref(emb, zq, k=3).count() == 0


def test_matmul_topk_string_ids(spark):
    """id_col is honored for non-long ids: the numpy scorer matches the
    Catalyst reference on string ids."""
    from catalyst_reference import brute_force_topk as brute_force_topk_ref

    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        brute_force_topk,
    )

    rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = emb.filter("vec_id = 'a'")
    bf = sorted(map(tuple, brute_force_topk(emb, q, k=2).collect()))
    ref = sorted(map(tuple, brute_force_topk_ref(emb, q, k=2).collect()))
    assert bf == ref and len(bf) == 2

# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
pytestmark = pytest.mark.slow


def test_unit_vectors_preserves_existing_nrm_column(spark):
    """A caller's '_nrm' column must survive unit_vectors untouched
    (the helper derives a non-colliding temp name)."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        unit_vectors,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], "keep-me")], "id long, v array<double>, _nrm string"
    )
    out = unit_vectors(df, "v").collect()
    assert out[0]._nrm == "keep-me"
    assert abs(out[0].v[0] - 0.6) < 1e-12 and abs(out[0].v[1] - 0.8) < 1e-12


def test_hyperplane_literal_weights_match_expression(spark):
    """r8: hyperplane_lsh_buckets literalizes the (row-independent)
    plane weights after a width probe; rows WIDER than the probed dim
    fall back per element to the original md5 expression. Buckets must
    be identical to the pure-expression path — including on a
    mixed-width corpus where the first row is the narrow one."""
    from pyspark.sql import functions as F

    rows = [
        (1, [0.5, -0.25, 1.0, 2.0]),
        (2, [1.0, 1.0, -3.0, 0.25, 0.125, -0.5, 2.0, 1.5]),  # wider than probe
        (3, [-1.0, 2.0, 0.0, 0.75]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit_b = {r["vec_id"]: r["bucket"]
             for r in hyperplane_lsh_buckets(df, n_planes=6).collect()}
    expr_b = {r["vec_id"]: r["bucket"]
              for r in hyperplane_lsh_buckets(df, n_planes=6,
                                              probe_dim=False).collect()}
    assert lit_b == expr_b, (lit_b, expr_b)


def test_ann_topk_plan_build_runs_two_jobs(spark, count_jobs):
    """Building the ann_topk plan runs one width probe of the corpus
    (the query side buckets with the corpus's width) and the query
    collect: at most 2 Spark jobs before any action on the result."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(2000, 16)
    corpus = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(2000)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") < 20)
    built, n_jobs = count_jobs(
        lambda: ann_topk(corpus, queries, k=3, n_planes=6, max_hamming=1)
    )
    assert n_jobs <= 2, n_jobs
    # every query finds its corpus neighbors (self rows never match)
    assert {r.qid for r in built.collect()} == set(range(20))


# Degenerate-input contract shared by every top-k search. Corpus: a
# NULL and an all-zero embedding (never returned, as query or neighbor),
# id 1 carried by two near-identical vectors (query 1 has two self rows
# at the top of its ranking), id 5 by two different vectors (and twice
# in the query set), and ids 2 and 9 sharing one vector (a sim tie the
# id must break).
_CONTRACT_CORPUS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.01, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.5, 0.5, 0.0, 0.0]),
    (4, [0.0, 1.0, 0.0, 0.0]),
    (5, [0.7, 0.7, 0.1, 0.0]),
    (5, [0.2, 0.9, 0.0, 0.3]),
    (6, None),
    (7, [0.0, 0.0, 0.0, 0.0]),
    (8, [-1.0, 0.2, 0.0, 0.0]),
    (9, [0.9, 0.1, 0.0, 0.0]),
]
_CONTRACT_QUERIES = [_CONTRACT_CORPUS[i] for i in (0, 5, 6, 7, 8)]


def _contract_search(name, corpus, queries, k):
    """Each search configured to probe its whole index, so the expected
    rows are the exact top-k under the operator's duplicate semantics."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
        ivf_search,
    )

    if name == "brute_force_topk":
        return brute_force_topk(corpus, queries, k=k)
    if name == "ann_topk":  # radius 2 over 2 planes probes all 4 codes
        return ann_topk(corpus, queries, k=k, n_planes=2, max_hamming=2)
    assigned, centroids = ivf_assignments(corpus, n_cells=2)
    return ivf_search(assigned, centroids, queries, k=k, n_probe=2)


def _contract_expected(corpus_rows, query_rows, k, merge):
    """Exact top-k in plain Python: cosine rounded HALF_UP to 4 places,
    self rows and NULL/zero-norm rows dropped, ranked on (-sim, nid).
    ``merge`` keeps the max sim per (qid, nid) (ANN's contract); without
    it every (query row, corpus row) pair is its own candidate."""
    def unit(rows):
        out = []
        for i, v in rows:
            n = math.sqrt(sum(x * x for x in v)) if v is not None else 0.0
            if n > 0:
                out.append((i, [x / n for x in v]))
        return out

    def half_up(x):
        return math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x) + 0.0

    cands = {}
    for qid, qv in unit(query_rows):
        for nid, nv in unit(corpus_rows):
            if nid != qid:
                sim = half_up(sum(a * b for a, b in zip(qv, nv)))
                cands.setdefault(qid, []).append((nid, sim))
    out = []
    for qid, pairs in cands.items():
        if merge:
            best = {}
            for nid, sim in pairs:
                best[nid] = max(sim, best.get(nid, sim))
            pairs = list(best.items())
        pairs.sort(key=lambda p: (-p[1], p[0]))
        out += [(qid, nid, sim, r) for r, (nid, sim) in enumerate(pairs[:k], 1)]
    return sorted(out)


@pytest.mark.parametrize("search", ["brute_force_topk", "ann_topk", "ivf_search"])
def test_search_degenerate_input_contract(spark, search):
    """NULL and zero-norm rows never match; self rows never surface,
    even for a duplicated query id, which still gets k rows when k
    non-self candidates exist; a duplicated corpus id keeps one row per
    corpus row (brute force, IVF) or is max-merged (ANN); string ids
    rank like long ids; k above the candidate count returns every
    candidate."""
    merge = search == "ann_topk"
    for as_str in (False, True):
        name = (lambda i: f"v{10 - i}") if as_str else (lambda i: i)
        corpus_rows = [(name(i), v) for i, v in _CONTRACT_CORPUS]
        query_rows = [(name(i), v) for i, v in _CONTRACT_QUERIES]
        schema = f"vec_id {'string' if as_str else 'long'}, embedding array<double>"
        df = spark.createDataFrame(corpus_rows, schema)
        queries = spark.createDataFrame(query_rows, schema)
        # one partition puts each id's rows in the same Arrow batch
        for n_parts, k in itertools.product((None, 1), (3, 10)):
            case = (as_str, n_parts, k)
            corpus = df if n_parts is None else df.coalesce(n_parts)
            got = sorted(
                (r.qid, r.nid, r.sim, r.rank)
                for r in _contract_search(search, corpus, queries, k).collect()
            )
            want = _contract_expected(corpus_rows, query_rows, k, merge)
            assert got == want, case
            bad = {name(6), name(7)}
            assert not any(q in bad or n in bad or q == n for q, n, _, _ in got)
            # query 1: seven non-self corpus rows, six distinct ids
            n_one = sum(g[0] == name(1) for g in got)
            assert n_one == min(k, 6 if merge else 7), (case, n_one)
            # query id 5: seven non-self corpus rows, six distinct ids,
            # scored against each of its two query rows
            n_dup = sum(g[0] == name(5) for g in got)
            assert n_dup == min(k, 6 if merge else 14), (case, n_dup)
