"""Formulations the library does not ship, kept as the parity
references its production paths are tested against. All but the last
are relational (pure Catalyst).

- MinHash and SimHash: the library computes signatures and fingerprints
  in one Arrow ``mapInPandas`` per partition. These token-explode +
  aggregate plans are the same hash families written as DataFrame
  expressions — the shape the DuckDB oracles use (test_bucketing). Each
  shuffles tokens × n_seeds (or × n_bits) rows, which measured slower
  than the Arrow path at every budget.
- Exact cosine top-k: a broadcast cross join scored with one
  interpreted ``_dot`` per pair over unit vectors, ranked by a window
  (test_ann); the library scores with a numpy matmul per Arrow batch.
- IVF query-cell assignment: one literal struct per centroid, so the
  plan grows with n_cells × dim (test_ann); the library picks the cells
  on the driver from the collected queries.
- The KG linker's pred-blocked all-pairs join: recall 1.0 but quadratic
  per predicate (test_graph); the library links through MinHash bands.
- Char-n-gram TF-IDF cosine, one Python call per (obj, alias) pair
  (test_graph); ``link_entities(scorer="tfidf")`` scores whole Arrow
  batches with ``linking.make_tfidf_batch_scorer``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from information_extraction_for_chinese_nlp_spark.operators.dedup import tokens
from information_extraction_for_chinese_nlp_spark.operators.linking import (
    _ngrams_py,
    char_ngrams,
    jaccard,
)
from information_extraction_for_chinese_nlp_spark.operators.similarity import (
    _dot,
    unit_vectors,
)


def minhash_signatures(docs: DataFrame, n_seeds: int = 4,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, seed, minhash): per-seed min of md5(token#seed)."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    )
    seeded = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1))).alias("seed"),
        "w",
    )
    return seeded.groupBy("doc_id", "seed").agg(
        F.min(F.md5(F.concat_ws("#", "w", "seed"))).alias("minhash")
    )


def minhash_bands(docs: DataFrame, n_bands: int, rows_per_band: int,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, band_id, band): the band strings minhash_lsh_pairs
    buckets on, from per-seed signatures and a per-(doc, band) agg."""
    sigs = minhash_signatures(docs, n_bands * rows_per_band, id_col, text_col)
    return (
        sigs.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
                "|",
            ).alias("band")
        )
    )


def simhash(docs: DataFrame, n_bits: int = 16,
            id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash): n_bits-bit (≤ 32) majority fingerprint."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        "h",
    ).withColumn(
        "vote",
        F.when(
            (F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") + 1, 1)) - 1)
            % 2
            == 1,
            1,
        ).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        )
        .cast("long")
        .alias("simhash")
    )


def simhash_wide(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """-> (doc_id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit words."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") % 32 + 1, 1))
        - 1
    )
    bitval = F.when(F.col("bit") < 32, digit % 2).otherwise((digit / 2).cast("int") % 2)
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        "h",
    ).withColumn("vote", F.when(bitval == 1, 1).otherwise(-1))
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") >= 32),
                   F.pow(F.lit(2.0), F.col("bit") - 32)).otherwise(0.0)
        ).cast("long").alias("sim_hi"),
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") < 32),
                   F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        ).cast("long").alias("sim_lo"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (qid, nid, sim, rank): ``similarity.brute_force_topk`` as a
    broadcast cross join. Each side is unit-normalized once per row, so
    the per-pair cost is a single ``_dot``."""
    q = unit_vectors(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        "qvec",
    )
    c = unit_vectors(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")),
        "nvec",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(_dot(F.col("qvec"), F.col("nvec")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def nearest_cells(vec_col, centroids, n_probe: int):
    """Indices of the n_probe nearest centroids (JVM-side expressions).

    Plan size is LINEAR in n_cells × dim — do not use beyond toy n_cells."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.slice(
        F.transform(F.array_sort(dists), lambda s: s["cell"]), 1, n_probe
    )


def ivf_search(assigned: DataFrame, centroids: list, queries: DataFrame,
               k: int = 3, n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """``similarity.ivf_search`` with the query cells assigned by
    :func:`nearest_cells` and the pairs scored in Catalyst."""
    c = assigned.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nvec"), "cell"
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn(
        "cell", F.explode(nearest_cells(F.col("qvec"), centroids, n_probe))
    )
    c = unit_vectors(c, "nvec")
    q = unit_vectors(q, "qvec")
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(_dot(F.col("qvec"), F.col("nvec")), 4).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def raw_match_pairs_exact(normed: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Recall-1.0 reference for ``plans.graph.raw_match_pairs``: the
    pred-blocked all-pairs join over the distinct raw surfaces."""
    raw = (
        normed.filter(F.col("obj_norm") == "nan")
        .select("pred", "obj", "entity_key")
        .distinct()
        .withColumn("grams", char_ngrams(F.col("obj"), 2))
    )
    a, b = raw.alias("a"), raw.alias("b")
    return (
        a.join(b, on="pred")
        .filter(F.col("a.entity_key") < F.col("b.entity_key"))
        .withColumn("sim", jaccard(F.col("a.grams"), F.col("b.grams")))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("a.entity_key").alias("src"), F.col("b.entity_key").alias("dst")
        )
    )


def make_tfidf_scorer(aliases: list[str], ngram: int = 2):
    """Char-n-gram TF-IDF cosine, IDF fitted on the alias corpus
    (sklearn-style smooth idf: ln((1+N)/(1+df)) + 1; terms unseen in
    the corpus get df=0 weight). The alias dictionary is small and
    curated by contract, so fitting happens driver-side at plan time —
    the scorer closure ships to workers with the UDF.

    This is the reference per-pair implementation, kept as the parity
    oracle for :func:`make_tfidf_batch_scorer` (the vectorized path
    ``link_entities`` actually runs) — see
    tests/test_graph.py::test_tfidf_batch_matches_loop."""
    import math
    from collections import Counter

    n_docs = len(aliases)
    df: Counter = Counter()
    for a in aliases:
        df.update(set(_ngrams_py(a, ngram)))
    default_idf = math.log(1.0 + n_docs) + 1.0
    idf = {t: math.log((1.0 + n_docs) / (1.0 + c)) + 1.0 for t, c in df.items()}

    def weights(s: str) -> dict:
        counts = Counter(_ngrams_py(s, ngram))
        return {t: n * idf.get(t, default_idf) for t, n in counts.items()}

    def score(obj, alias) -> float:
        if obj is None or alias is None:
            return 0.0
        wa, wb = weights(obj), weights(alias)
        dot = sum(w * wb[t] for t, w in wa.items() if t in wb)
        na = math.sqrt(sum(w * w for w in wa.values()))
        nb = math.sqrt(sum(w * w for w in wb.values()))
        return dot / (na * nb) if na and nb else 0.0

    return score
