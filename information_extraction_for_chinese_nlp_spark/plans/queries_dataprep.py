"""Training-data-pipeline operators over documents/embeddings, each with
a DuckDB oracle: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search, and text analysis."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, register, register_extra

# ---------------------------------------------------------------------------
# Dedup — exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_q(spark, sf_dir):
    from ..operators.dedup import dedup_exact

    return dedup_exact(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup — MinHash signatures + LSH band pairs
# ---------------------------------------------------------------------------


def _minhash_band_ctes(n_seeds: int, source: str = "documents") -> str:
    """The shared words→seeded→sigs→band CTE chain (md5 min-hash family,
    2-row bands) — ONE definition so the hash family cannot silently
    diverge between the oracles that embed it."""
    return f"""words AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM {source}
    ),
    seeded AS (
      SELECT doc_id, s.seed, w
      FROM words CROSS JOIN (SELECT unnest(range(0, {n_seeds})) AS seed) s
    ),
    sigs AS (
      SELECT doc_id, seed, min(md5(concat(w, '#', seed))) AS minhash
      FROM seeded GROUP BY doc_id, seed
    ),
    band AS (
      SELECT doc_id, seed // 2 AS band_id,
             string_agg(minhash, '|' ORDER BY seed) AS band
      FROM sigs GROUP BY doc_id, band_id
    )"""


_MINHASH_PAIRS_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM band a JOIN band b USING (band_id, band)
    WHERE a.doc_id < b.doc_id
    """


@register(
    "minhash_signatures",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ),
    seeded AS (
      SELECT doc_id, s.seed, w
      FROM words CROSS JOIN (SELECT unnest(range(0, 4)) AS seed) s
    )
    SELECT doc_id, seed, min(md5(concat(w, '#', seed))) AS minhash
    FROM seeded GROUP BY doc_id, seed
    """,
)
def minhash_signatures_q(spark, sf_dir):
    from ..operators.dedup import minhash_signatures

    out = minhash_signatures(load(spark, sf_dir, "documents"), n_seeds=4)
    return out.select("doc_id", F.col("seed").cast("long").alias("seed"), "minhash")


@register_extra(
    "minhash_lsh_pairs",
    f"WITH {_minhash_band_ctes(4)}{_MINHASH_PAIRS_SELECT}",
)
def minhash_lsh_pairs_q(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs

    # explicit max_bucket=None: the DuckDB oracle models NO cap, and the
    # gate must stay bit-equal to it at ANY scale factor
    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), n_bands=2, rows_per_band=2,
        max_bucket=None,
    )


@register_extra(
    "minhash_vectorized_pairs",
    f"WITH {_minhash_band_ctes(8)}{_MINHASH_PAIRS_SELECT}",
)
def minhash_vectorized_pairs_q(spark, sf_dir):
    """The b=4×r=2 signature budget (twice the ``minhash_lsh_pairs``
    gate's hashes) against the same inverted-index oracle."""
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), n_bands=4, rows_per_band=2,
        max_bucket=None,
    )


# ---------------------------------------------------------------------------
# Dedup — the full composed recipe: exact-keep -> MinHash-LSH pairs ->
# connected components -> LEFT ANTI keep-list (operators/dedup.py
# dedup_pipeline). Planted exact clones (doc_id+1000000, same text) make
# the exact pre-pass non-vacuous at sf0.01 (the corpus itself has no
# exact dups there); the doc_id%5 subset keeps the oracle's recursive
# CC tractable at the b=2×r=2 banding density.
# ---------------------------------------------------------------------------


@register(
    "dedup_pipeline",
    f"""
    WITH RECURSIVE
    docs_plus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 50 = 0
    ),
    exact AS (SELECT min(doc_id) AS keep_id FROM docs_plus GROUP BY md5(text)),
    canon AS (
      SELECT d.doc_id, d.text FROM docs_plus d
      JOIN exact e ON d.doc_id = e.keep_id
    ),
    {_minhash_band_ctes(4, source="canon")},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band a JOIN band b USING (band_id, band)
      WHERE a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT DISTINCT a AS node, a AS r FROM sym
      UNION
      SELECT s.b AS node, reach.r FROM reach JOIN sym s ON reach.node = s.a
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
    SELECT c.doc_id FROM canon c
    LEFT JOIN losers l ON c.doc_id = l.doc_id
    WHERE l.doc_id IS NULL
    """,
)
def dedup_pipeline_q(spark, sf_dir):
    from ..operators.dedup import dedup_pipeline

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0
    )
    clones = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    # max_bucket=None: the oracle models NO cap; the gate must stay
    # bit-equal to it at any scale factor (same pin as minhash_lsh_pairs)
    out = dedup_pipeline(docs.unionByName(clones), n_bands=2, rows_per_band=2,
                         max_bucket=None)
    return out.select("doc_id")


# ---------------------------------------------------------------------------
# Dedup — SimHash fingerprint
# ---------------------------------------------------------------------------


def _simhash16_fp_sql() -> str:
    """The shared 16-bit SimHash fingerprint query (words → per-bit
    md5-parity votes → packed fingerprint) — ONE definition for the
    three oracles that embed it."""
    return """words AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ),
    bits AS (
      SELECT doc_id, b.bit,
             CASE WHEN (strpos('0123456789abcdef', substring(md5(w), b.bit + 1, 1)) - 1) % 2 = 1
                  THEN 1 ELSE -1 END AS vote
      FROM words CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY doc_id, bit)"""


_SIMHASH16_SELECT = """
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN pow(2, bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


@register(
    "simhash",
    f"WITH {_simhash16_fp_sql()}{_SIMHASH16_SELECT}",
)
def simhash_q(spark, sf_dir):
    from ..operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), n_bits=16)


@register_extra(
    "simhash_near_pairs",
    f"""
    WITH {_simhash16_fp_sql()},
    sims AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN pow(2, bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash, b.band_id,
             (simhash >> (b.band_id * 4)) & 15 AS band
      FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM banded a JOIN banded b USING (band_id, band)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def simhash_near_pairs_q(spark, sf_dir):
    from ..operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        load(spark, sf_dir, "documents"), n_bits=16, n_bands=4, max_hamming=3
    )


# ---------------------------------------------------------------------------
# Dedup — 64-bit SimHash (two 32-bit words: packing bit 63 into one long
# would overflow signed-64 / exceed double mantissa on either engine).
# Runs on a planted fixture: the sf0.01 corpus has no near-dups at
# 64-bit resolution (intra-cluster hamming ≤ 7 vs ≥ 20 for unrelated
# docs on this fixture), so `documents` alone would make the gate
# vacuous.
# ---------------------------------------------------------------------------


def _simhash64_docs() -> list[tuple[int, str]]:
    docs = []
    for c in range(3):
        base = [f"tok{c}_{i}" for i in range(40)]
        docs.append((c * 10, " ".join(base)))
        v1 = list(base)
        v1[5] = "changedA"
        docs.append((c * 10 + 1, " ".join(v1)))
        v2 = list(v1)
        v2[17] = "changedB"
        docs.append((c * 10 + 2, " ".join(v2)))
    for i in range(4):
        docs.append((100 + i, " ".join(f"uniq{i}_{j}" for j in range(30))))
    return docs


def _simhash64_values() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in _simhash64_docs())
    return f"(VALUES {rows}) AS d(doc_id, text)"


_SIMHASH64_FP_CTES = f"""
    d AS (SELECT * FROM {_simhash64_values()}),
    words AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM d
    ),
    bits AS (
      SELECT doc_id, b.bit,
             strpos('0123456789abcdef', substring(md5(w), (b.bit % 32) + 1, 1)) - 1
               AS digit
      FROM words CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
    ),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (CASE WHEN bit < 32 THEN digit % 2
                            ELSE (digit // 2) % 2 END) = 1
                 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 AND bit >= 32 THEN pow(2, bit - 32) ELSE 0 END)
                  AS BIGINT) AS sim_hi,
             CAST(sum(CASE WHEN v > 0 AND bit < 32 THEN pow(2, bit) ELSE 0 END)
                  AS BIGINT) AS sim_lo
      FROM votes GROUP BY doc_id
    )
"""


def _simhash64_df(spark):
    return spark.createDataFrame(_simhash64_docs(), "doc_id long, text string")


@register_extra(
    "simhash64",
    f"WITH {_SIMHASH64_FP_CTES} SELECT doc_id, sim_hi, sim_lo FROM fp",
)
def simhash64_q(spark, sf_dir):
    from ..operators.dedup import simhash_wide

    return simhash_wide(_simhash64_df(spark))


@register(
    "simhash64_near_pairs",
    f"""
    WITH {_SIMHASH64_FP_CTES},
    banded AS (
      SELECT doc_id, sim_hi, sim_lo, b.band_id,
             CASE WHEN b.band_id * 8 < 32
                  THEN (sim_lo >> (b.band_id * 8)) & 255
                  ELSE (sim_hi >> ((b.band_id * 8) % 32)) & 255 END AS band
      FROM fp CROSS JOIN (SELECT unnest(range(0, 8)) AS band_id) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             CAST(bit_count(xor(a.sim_hi, b2.sim_hi))
                + bit_count(xor(a.sim_lo, b2.sim_lo)) AS BIGINT) AS hamming
      FROM banded a JOIN banded b2 USING (band_id, band)
      WHERE a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 7
    """,
)
def simhash64_near_pairs_q(spark, sf_dir):
    from ..operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_simhash64_df(spark), n_bits=64, n_bands=8,
                              max_hamming=7)


# ---------------------------------------------------------------------------
# Dedup — word-3-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                              i -> array_to_string(list_slice(t, i, i + 2), ' '))
             )) AS s
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jac
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.1
    """,
)
def ngram_jaccard_q(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs

    # explicit max_df=None: the oracle models no hot-shingle cap
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.1, max_df=None
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — flag training docs sharing any word n-gram
# with an eval corpus (GPT-3-style overlap rule; eval side broadcasts).
# Eval set here = every 97th doc, so flagged docs are guaranteed and the
# gate is non-vacuous at any SF.
# ---------------------------------------------------------------------------


@register(
    "decontaminate",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    -- strict n-grams (greatest(..., 0)): docs with < n tokens have NO
    -- shingles, mirroring keep_short=False on the Spark side
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                              i -> array_to_string(list_slice(t, i, i + 7), ' '))
             )) AS g
      FROM toks
    ),
    eg AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT sh.doc_id, count(*) AS n_hits
      FROM sh JOIN eg USING (g) GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def decontaminate_q(spark, sf_dir):
    from ..operators.dedup import decontaminate

    docs = load(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, eval_docs, n=8)


# ---------------------------------------------------------------------------
# Similarity search — exact brute-force cosine top-k
# ---------------------------------------------------------------------------


_EXACT_TOPK_SQL = """
    WITH q AS (
      SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nvec
      FROM embeddings
    ),
    scored AS (
      SELECT qid, nid,
             round(list_dot_product(qvec, nvec)
                   / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(nvec, nvec))),
                   4) AS sim
      FROM c CROSS JOIN q WHERE qid <> nid
    ),
    ranked AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      FROM scored
    )
    SELECT qid, nid, sim, rank FROM ranked WHERE rank <= 3
    """


@register("embedding_topk", _EXACT_TOPK_SQL)
def embedding_topk_q(spark, sf_dir):
    from ..operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    return out.select("qid", "nid", "sim", F.col("rank").cast("long").alias("rank"))


@register(
    "embedding_near_dup",
    """
    WITH base AS (
      SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 1500
      UNION ALL
      -- planted near-dups: scaled clones of the first 5 vectors
      -- (cosine is scale-invariant, so each (i, i+100000) pair scores 1.0)
      SELECT vec_id + 100000 AS vec_id, label,
             list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id < 5
    ),
    v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM base
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 4) AS sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.8
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the scale
    pattern: candidates only meet inside a block; swap the label for an
    LSH bucket on unlabeled corpora). The input is salted with scaled
    clones of the first 5 vectors so the gate compares a NON-EMPTY pair
    set at every scale factor (a 0-row match would certify nothing)."""
    from ..operators.similarity import cosine

    base = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1500)
    clones = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            "label",
            F.transform(
                "embedding", lambda x: (x.cast("double") * 2.0).cast("float")
            ).alias("embedding"),
        )
    )
    emb = base.unionByName(clones)
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("l"),
        F.col("embedding").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("l"),
        F.col("embedding").alias("eb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, on="l")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(sim >= 0.8)
        .select("vec_a", "vec_b", F.round(sim, 4).alias("sim"))
    )


def _clone_queries(emb, scale: float | None):
    """First 5 corpus vectors re-issued as queries under new ids;
    ``scale`` multiplies the vector (cosine- and hyperplane-invariant)."""
    vec = (
        F.transform("embedding", lambda x: (x.cast("double") * scale).cast("float"))
        if scale is not None
        else F.col("embedding")
    )
    return emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), vec.alias("embedding")
    )


@register_extra(
    "embedding_near_dup_lsh",
    """
    SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b, 1.0 AS sim
    FROM embeddings WHERE vec_id < 5
    """,
)
def embedding_near_dup_lsh_q(spark, sf_dir):
    """Unlabeled-corpus near-dup via multiprobe LSH blocking. Oracle by
    planted ×2-scaled clones: hyperplane fingerprints are
    scale-invariant, so each clone shares its original's bucket exactly
    and MUST pair at cosine 1.0; threshold 0.99 excludes everything
    organic (max organic cosine in the fixture corpus is 0.51)."""
    from ..operators.similarity import lsh_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1500)
    base = emb.select("vec_id", "embedding")
    corpus = base.unionByName(
        _clone_queries(load(spark, sf_dir, "embeddings"), 2.0)
    )
    return lsh_near_dup_pairs(corpus, threshold=0.99, n_planes=6, max_hamming=1)


@register(
    "ivf_topk",
    "SELECT vec_id + 100000 AS qid, 1.0 AS top1_sim FROM embeddings WHERE vec_id < 5",
)
def ivf_topk_q(spark, sf_dir):
    """Self-consistency recall oracle: each query is an exact clone of a
    corpus vector, so its own IVF cell is the nearest centroid and the
    original MUST come back at rank 1 with cosine 1.0 — any bucketing,
    probe-pruning, scoring, or ranking defect breaks the pinned value.
    (Statistical recall vs brute force on natural queries is pinned in
    tests/test_ann.py — k-means cells are engine-specific, so that part
    has no SQL oracle.)"""
    from ..operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, _clone_queries(emb, None), k=3, n_cells=8, n_probe=4)
    return out.filter(F.col("rank") == 1).select("qid", F.col("sim").alias("top1_sim"))


@register(
    "token_counts",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      FROM documents
    )
    SELECT doc_id,
           len(t) AS ws_tokens,
           CAST(coalesce(list_sum(list_transform(t, w -> ceil(length(w) / 4.0))), 0)
                AS BIGINT) AS bpeish_tokens
    FROM toks
    """,
)
def token_counts(spark, sf_dir):
    """Whitespace tokens + a BPE-ish proxy (each word costs
    ceil(len/4) subword pieces — the standard chars/4 budgeting rule,
    exact enough for data-pipeline token accounting)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim("text")) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    # coalesce mirrors the oracle's NULL-text handling (aggregate over a
    # NULL array is NULL in Spark; the SQL side coalesces to 0)
    bpeish = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda w: F.ceil(F.length(w) / 4.0)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
        F.lit(0).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("ws_tokens"),
        bpeish.alias("bpeish_tokens"),
    )


@register(
    "ann_topk",
    "SELECT vec_id + 100000 AS qid, 1.0 AS top1_sim FROM embeddings WHERE vec_id < 5",
)
def ann_topk_q(spark, sf_dir):
    """Self-consistency recall oracle for multiprobe hyperplane LSH:
    queries are ×2-SCALED clones — hyperplane sign buckets are
    scale-invariant, so the clone probes its original's bucket and must
    retrieve cosine 1.0 at rank 1. Pins bucketing determinism AND its
    scale-invariance, the join, scoring, and ranking. (Recall on
    perturbed near-dups is pinned in tests/test_ann.py.)"""
    from ..operators.similarity import ann_topk

    emb = load(spark, sf_dir, "embeddings")
    out = ann_topk(emb, _clone_queries(emb, 2.0), k=3, n_planes=6, max_hamming=1)
    return out.filter(F.col("rank") == 1).select("qid", F.col("sim").alias("top1_sim"))


# ---------------------------------------------------------------------------
# Text analysis — quality features / language ID / fingerprint
# ---------------------------------------------------------------------------


@register(
    "quality_features",
    r"""
    WITH cjk AS (
      SELECT doc_id, text,
             regexp_replace(text, '[一-鿿]', ' ', 'g') AS stripped,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))
               AS n_cjk
      FROM documents
    ),
    base AS (
      SELECT doc_id, text,
             (CASE WHEN length(trim(stripped)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(stripped), '\s+')) END)
             + n_cjk AS n_tokens,
             (CASE WHEN length(trim(stripped)) = 0 THEN 0
                   ELSE len(list_filter(regexp_split_to_array(trim(stripped), '\s+'),
                            w -> list_contains(['the','a','of','and','to','in','is'], w)))
                   END)
             + (length(text) - length(replace(text, '的', '')))
             + (length(text) - length(replace(text, '是', '')))
             + (length(text) - length(replace(text, '了', ''))) AS n_stop,
             length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g'))
               AS n_punct
      FROM cjk
    ),
    feat AS (
      SELECT doc_id,
             length(text) AS n_chars,
             n_tokens,
             CASE WHEN n_tokens > 0
                  THEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END AS avg_token_len,
             CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
             CASE WHEN length(text) > 0 THEN n_punct / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
      FROM base
    )
    SELECT doc_id, n_chars, n_tokens,
           round(avg_token_len, 6) AS avg_token_len,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(least(n_tokens / 100.0, 1.0) * 0.5
                 + least(stopword_ratio * 5, 1.0) * 0.3
                 + (1 - least(punct_ratio * 10, 1.0)) * 0.2, 6) AS quality_score
    FROM feat
    """,
)
def quality_features_q(spark, sf_dir):
    from ..operators.textstats import quality_features

    out = quality_features(load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len",
        "stopword_ratio",
        "punct_ratio",
        "quality_score",
    )


@register(
    "lang_id",
    r"""
    WITH hits AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           w -> list_contains(['the','a','of'], w))) END AS en_hits,
             -- zh: per-CHARACTER occurrences (no token boundaries in zh)
             (length(text) - length(replace(text, '的', '')))
             + (length(text) - length(replace(text, '是', '')))
             + (length(text) - length(replace(text, '了', ''))) AS zh_hits
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN zh_hits >= en_hits AND zh_hits > 0 THEN 'zh'
                WHEN en_hits > 0 THEN 'en'
                ELSE 'und' END AS lang_pred,
           greatest(en_hits, zh_hits) AS marker_hits
    FROM hits
    """,
)
def lang_id_q(spark, sf_dir):
    from ..operators.textstats import lang_id

    out = lang_id(load(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred", F.col("marker_hits").cast("long").alias("marker_hits"))


@register_extra(
    "fingerprint",
    r"""
    SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def fingerprint_q(spark, sf_dir):
    from ..operators.textstats import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"))


@register(
    "winnow_fingerprints",
    r"""
    WITH norm AS (
      SELECT doc_id,
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(
               range(1, length(t) - 7 + 1),
               i -> ('0x' || substring(md5(substring(t, CAST(i AS INT), 8)), 1, 8))::BIGINT
             ) AS hs
      FROM norm
      WHERE length(t) >= 11  -- k + w - 1
    )
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(0, len(hs) - 4 + 1),
             j -> list_min(list_slice(hs, CAST(j + 1 AS INT), CAST(j + 4 AS INT)))
           ))) AS fp
    FROM hashed
    """,
)
def winnow_fingerprints_q(spark, sf_dir):
    from ..operators.textstats import winnow_fingerprints

    return winnow_fingerprints(load(spark, sf_dir, "documents"), k=8, w=4)


# ---------------------------------------------------------------------------
# Stratified sampling — md5-deterministic per-stratum keep decisions
# (sampleBy's per-row randomness depends on partition layout; this is
# bit-stable at any cluster size and oracle-checkable).
# ---------------------------------------------------------------------------


@register(
    "sample_stratified",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substring(md5('strat#1000#' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT % 1000000
          < (CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 1000000
             ELSE 100000 END)
    """,
)
def sample_stratified_q(spark, sf_dir):
    from ..operators.convert import sample_stratified

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_stratified(
        docs, {"en": 0.25, "zh": 1.0}, strata_col="lang", default_fraction=0.1
    )


# ---------------------------------------------------------------------------
# Sequence packing — fixed-token-budget bins via per-bucket window
# cumsum (no global sort; overflow bounded by one document per pack).
# ---------------------------------------------------------------------------


@register(
    "pack_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             CAST(('0x' || substring(md5('pack#1000#' || CAST(doc_id AS VARCHAR)), 1, 8))
                  ::BIGINT % 8 AS INT) AS bucket
      FROM documents
    ),
    pref AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, bucket,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
      FROM toks
    )
    SELECT doc_id, n_tokens, bucket,
           bucket || '#' || CAST(floor(p / 512.0) AS BIGINT) AS pack_id
    FROM pref
    """,
)
def pack_documents_q(spark, sf_dir):
    from ..operators.convert import pack_documents

    return pack_documents(
        load(spark, sf_dir, "documents"), cap_tokens=512, n_buckets=8
    )


# ---------------------------------------------------------------------------
# PII scrub + repetition filters (Gopher-style) — planted fixture: the
# sf0.01 corpus contains no emails/phones/IDs, no newlines and no char
# runs, so `documents` alone would make both gates vacuous.
# ---------------------------------------------------------------------------

_PII_DOCS = [
    (0, "contact me at alice@example.com or +886 912345678 thanks"),
    (1, "id A123456789 filed\nsame line\nsame line\nsame line"),
    (2, "aaaaaaaaaa bbbb normal text the end"),
    (3, "no pii here just ordinary words"),
    (4, "x@y.io x@y.io dup dup dup dup"),
    (5, ""),
    # same-char run straddling a newline: Spark's '(.)\1*' (Java '.'
    # excludes \n) must report 3, not the merged 5 — forces the oracle
    # onto the per-line semantics
    (6, "zz\nzzz straddle"),
    # newline-only text: zero runs -> char_run_max must be 0, not NULL
    (7, "\n\n"),
    # pre-existing placeholder: re-scrub must report 0 redactions
    (8, "quoted <EMAIL> placeholder stays"),
]


def _pii_values() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in _PII_DOCS)
    return f"(VALUES {rows}) AS d(doc_id, text)"


def _pii_df(spark):
    return spark.createDataFrame(_PII_DOCS, "doc_id long, text string")


@register(
    "scrub_pii",
    f"""
    WITH d AS (SELECT * FROM {_pii_values()}),
    red AS (
      SELECT doc_id, text AS orig,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                   '<EMAIL>', 'g'),
                 '\\b[A-Z][0-9]{{9}}\\b', '<IDNUM>', 'g'),
               '\\+?[0-9][0-9 -]{{7,14}}[0-9]', '<PHONE>', 'g') AS text
      FROM d
    )
    -- AFTER − BEFORE: pre-existing literal placeholders are not
    -- redactions of this pass
    SELECT doc_id, text,
           CAST(len(regexp_extract_all(text, '<(EMAIL|PHONE|IDNUM)>'))
                - len(regexp_extract_all(orig, '<(EMAIL|PHONE|IDNUM)>'))
                AS BIGINT) AS n_redactions
    FROM red
    """,
)
def scrub_pii_q(spark, sf_dir):
    from ..operators.textstats import scrub_pii

    return scrub_pii(_pii_df(spark))


@register(
    "repetition_features",
    f"""
    WITH d AS (SELECT * FROM {_pii_values()}),
    lines AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM d
    ),
    proj AS (
      SELECT doc_id,
             round(CASE WHEN len(ls) > 0
                   THEN 1.0 - len(list_distinct(ls)) / len(ls)::DOUBLE
                   ELSE 0.0 END, 6) AS dup_line_frac
      FROM lines
    ),
    -- per-LINE run arithmetic: Java regex '.' (the Spark operator's
    -- '(.)\\1*') excludes line terminators, so runs can neither straddle
    -- nor contain a newline; RE2's '.' also drops \\n from the char list,
    -- which would MERGE runs across the boundary ('aa\\naa' -> 4, not 2).
    -- Splitting on chr(10) first pins both engines to one semantics.
    runs AS (
      SELECT doc_id, regexp_extract_all(line, '.') AS cl
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d)
    ),
    linemax AS (
      SELECT doc_id,
             CASE WHEN len(cl) = 0 THEN 0
                  ELSE list_max(list_transform(
                    range(1, len(list_filter(range(1, len(cl) + 1),
                          i -> i = 1 OR cl[i] != cl[i - 1])
                          || [len(cl) + 1])),
                    j -> (list_filter(range(1, len(cl) + 1),
                          i -> i = 1 OR cl[i] != cl[i - 1])
                          || [len(cl) + 1])[j + 1]
                       - (list_filter(range(1, len(cl) + 1),
                          i -> i = 1 OR cl[i] != cl[i - 1])
                          || [len(cl) + 1])[j]))
             END AS mx
      FROM runs
    ),
    runmax AS (
      SELECT doc_id, max(mx) AS char_run_max FROM linemax GROUP BY doc_id
    ),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM toks
    ),
    counts AS (
      SELECT doc_id, bg, count(*) AS n FROM bigrams GROUP BY doc_id, bg
    ),
    top AS (
      SELECT doc_id, round(max(n) / sum(n)::DOUBLE, 6) AS top_bigram_frac
      FROM counts GROUP BY doc_id
    )
    SELECT p.doc_id, p.dup_line_frac,
           coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac,
           CAST(r.char_run_max AS BIGINT) AS char_run_max
    FROM proj p
    JOIN runmax r USING (doc_id)
    LEFT JOIN top t USING (doc_id)
    """,
)
def repetition_features_q(spark, sf_dir):
    from ..operators.textstats import repetition_features

    return repetition_features(_pii_df(spark))


# ---------------------------------------------------------------------------
# Corpus-level line dedup (CCNet/C4-family boilerplate removal): planted
# fixture — the synthetic documents table has no naturally repeated
# lines, so the hot-set leg would be vacuous over it.
# ---------------------------------------------------------------------------

_LINE_DEDUP_ROWS = [
    (0, ["COOKIE BANNER", "unique zero", "FOOTER TEXT"]),
    (1, ["COOKIE BANNER", "", "unique one", "FOOTER TEXT"]),
    (2, ["unique two a", "COOKIE BANNER", "unique two b", "FOOTER TEXT"]),
    (3, ["unique three", "FOOTER TEXT", ""]),
    # doc that becomes empty except structure once boilerplate drops
    (4, ["FOOTER TEXT"]),
]


def _line_dedup_values() -> str:
    rows = ", ".join(
        "({}, '{}')".format(i, "' || chr(10) || '".join(ls))
        for i, ls in _LINE_DEDUP_ROWS
    )
    return f"(VALUES {rows}) AS d(doc_id, text)"


@register(
    "line_dedup",
    f"""
    WITH d AS (SELECT doc_id, text FROM {_line_dedup_values()}),
    hot AS (
      SELECT line FROM (
        SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
        FROM d
      ) WHERE line <> '' GROUP BY line HAVING count(*) >= 3
    ),
    hotl AS (SELECT coalesce(list(line), []) AS hl FROM hot)
    SELECT doc_id,
           -- coalesce: DuckDB's array_to_string emits NULL for an
           -- empty list where Spark's array_join emits ''
           coalesce(array_to_string(
             list_filter(string_split(text, chr(10)),
                         x -> x = '' OR NOT list_contains(hl, x)),
             chr(10)), '') AS text,
           CAST(len(string_split(text, chr(10)))
                - len(list_filter(string_split(text, chr(10)),
                                  x -> x = '' OR NOT list_contains(hl, x)))
                AS BIGINT) AS n_dropped
    FROM d, hotl
    """,
)
def line_dedup_q(spark, sf_dir):
    """Boilerplate lines (>= min_df distinct docs) removed from every
    document, empty lines preserved as structure — CCNet's shard-hash
    paragraph dedup / C4's line rules, one distinct+count pass then a
    membership filter. Two hot lines put the gate on the in-row leg;
    both legs are parity-pinned in test_dedup_pipeline."""
    from ..operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, "\n".join(ls)) for i, ls in _LINE_DEDUP_ROWS],
        "doc_id long, text string",
    )
    return line_dedup(docs, min_df=3)
