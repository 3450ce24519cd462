"""Entity linking: blocking -> broadcast candidate join -> similarity ->
best-match selection (SURVEY.md §2.8; the KG tail of north_star).

The alias dictionary is small by construction (it's curated), so the
candidate join broadcasts it — no shuffle of the mention table, which is
the 100 TB side. Blocking keys bound the candidate set per mention;
scoring is char-n-gram Jaccard (set expressions, JVM-side), char-n-gram
TF-IDF cosine (one Arrow-batched UDF, IDF fitted driver-side on the
dictionary) for longer surface forms, or embedding cosine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import normalize_money_udf


def char_ngrams(col, n: int = 2):
    """array of DISTINCT char n-grams of a string column (JVM-side, no
    UDF). Strings shorter than n yield an EMPTY array — the previous
    sequence(1, greatest(len-n+1, 0)) formulation produced a DESCENDING
    [1, 0] sequence there and emitted the whole short string as a
    pseudo-gram, so two identical 1-char surfaces scored Jaccard 1.0 in
    Spark while the DuckDB oracle (strict range) and the Python n-gram
    path both scored 0.0 (latent engine divergence, caught in r5)."""
    return F.array_distinct(char_ngrams_multiset(col, n))


def char_ngrams_multiset(col, n: int = 2):
    """NON-distinct char n-grams (TF-IDF needs term frequencies);
    strings shorter than n yield an EMPTY array (matching the Python
    `_ngrams_py` contract — the distinct variant's sequence(1, 0) quirk
    would emit the whole short string as a pseudo-gram)."""
    idx = F.sequence(F.lit(1), F.length(col) - (n - 1))
    return F.when(
        F.length(col) >= n,
        F.transform(idx, lambda i: F.substring(col, i, n)),
    ).otherwise(F.array().cast("array<string>"))


def jaccard(a, b):
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _ngrams_py(s: str, n: int) -> list[str]:
    return [s[i : i + n] for i in range(max(len(s) - n + 1, 0))]


def make_tfidf_batch_scorer(aliases: list[str], ngram: int = 2):
    """Vectorized TF-IDF cosine over whole Arrow batches.

    Same fit and same scores as a per-pair Python scorer (the parity
    reference in tests/catalyst_reference.py), but the per-batch work
    that scales with the MENTION side — the 100 TB side — is numpy, not
    a Python loop over candidate pairs:

    - alias vectors (term-index array, tf·idf weight array, norm) are
      precomputed ONCE here, driver-side, under the same curated-dict
      contract that already gates the IDF fit;
    - per batch, objs and aliases are factorized so weights are built
      once per DISTINCT surface, not once per pair (a blocked candidate
      join repeats both sides heavily);
    - dot products run per distinct alias: its sparse vector is
      scattered into a reusable dense scratch array over the corpus
      vocabulary, and the dots against every distinct obj paired with
      it are one gather-multiply + ``np.add.reduceat`` over the objs'
      concatenated CSR slices. The Python-level loop count is bounded
      by the alias dictionary (contract-small), never by the mentions.

    Returns ``score_batch(obj: pd.Series, alias: pd.Series) ->
    np.ndarray[float64]``. A NULL obj or alias scores 0.0; a non-NULL
    alias outside ``aliases`` raises ValueError, since its n-grams have
    no IDF weight and it would score silently wrong.
    """
    import math
    from collections import Counter

    import numpy as np

    n_docs = len(aliases)
    df: Counter = Counter()
    for a in aliases:
        df.update(set(_ngrams_py(a, ngram)))
    default_idf = math.log(1.0 + n_docs) + 1.0
    vocab = {t: i for i, t in enumerate(df)}
    idf_arr = np.empty(len(vocab))
    for t, c in df.items():
        idf_arr[vocab[t]] = math.log((1.0 + n_docs) / (1.0 + c)) + 1.0
    V = len(vocab)

    def _vec(s: str):
        """(sorted term-index array, tf·idf array, oov_sq, norm)."""
        counts = Counter(_ngrams_py(s, ngram))
        iv = []
        oov_sq = 0.0
        for t, c in counts.items():
            j = vocab.get(t)
            if j is None:
                w = c * default_idf
                oov_sq += w * w
            else:
                iv.append((j, c * idf_arr[j]))
        iv.sort()
        idx = np.fromiter((j for j, _ in iv), dtype=np.int64, count=len(iv))
        val = np.fromiter((w for _, w in iv), dtype=np.float64, count=len(iv))
        norm = math.sqrt(float(val @ val) + oov_sq)
        return idx, val, norm

    alias_vecs = {a: _vec(a) for a in set(aliases)}

    def score_batch(obj, alias) -> "np.ndarray":
        import pandas as pd

        n = len(obj)
        out = np.zeros(n)
        if n == 0:
            return out
        o_codes, o_uniq = pd.factorize(obj, use_na_sentinel=True)
        a_codes, a_uniq = pd.factorize(alias, use_na_sentinel=True)
        scratch = np.zeros(V)
        valid = np.flatnonzero((o_codes >= 0) & (a_codes >= 0))
        if valid.size == 0:
            return out
        # fit once per DISTINCT obj — but only objs that appear in a
        # scoreable row (an all-null-alias batch pays zero fits)
        o_vecs = [None] * len(o_uniq)
        for c in np.unique(o_codes[valid]):
            o_vecs[c] = _vec(o_uniq[c])
        order = valid[np.argsort(a_codes[valid], kind="stable")]
        a_sorted = a_codes[order]
        starts = np.flatnonzero(np.r_[True, a_sorted[1:] != a_sorted[:-1]])
        bounds = np.r_[starts, a_sorted.size]
        for s, e in zip(bounds[:-1], bounds[1:]):
            rows = order[s:e]
            a = a_uniq[a_sorted[s]]
            if a not in alias_vecs:
                raise ValueError(f"alias {a!r} is not in the fitted alias corpus")
            b_idx, b_val, b_norm = alias_vecs[a]
            if b_norm == 0.0 or b_idx.size == 0:
                continue
            scratch[b_idx] = b_val
            oc_rows = o_codes[rows]
            uo = np.unique(oc_rows)
            lens = np.fromiter(
                (o_vecs[c][0].size for c in uo), dtype=np.int64, count=uo.size
            )
            nz = np.flatnonzero(lens)
            dots = np.zeros(uo.size)
            if nz.size:
                cat_idx = np.concatenate([o_vecs[uo[k]][0] for k in nz])
                cat_val = np.concatenate([o_vecs[uo[k]][1] for k in nz])
                prod = cat_val * scratch[cat_idx]
                offs = np.r_[0, np.cumsum(lens[nz])[:-1]]
                dots[nz] = np.add.reduceat(prod, offs)
            norms = np.fromiter(
                (o_vecs[c][2] for c in uo), dtype=np.float64, count=uo.size
            )
            denom = norms * b_norm
            with np.errstate(divide="ignore", invalid="ignore"):
                s_u = np.where(denom > 0.0, dots / denom, 0.0)
            out[rows] = s_u[np.searchsorted(uo, oc_rows)]
            scratch[b_idx] = 0.0
        return out

    return score_batch


def block_key_for_mention(pred_col, obj_col):
    """Blocking key: entity type + normalized money value (the reference's
    obj normalization, F4, doubles as the blocking function)."""
    return F.concat_ws("#", pred_col, normalize_money_udf(obj_col))


# The TF-IDF scorer fits its IDF table driver-side, which requires
# collecting the DISTINCT aliases — valid only under the "small curated
# dictionary" contract this module is built on. The guard makes that
# contract enforceable instead of aspirational: past the cap the
# collect would OOM the driver / bloat every task closure silently.
MAX_TFIDF_ALIASES = 1_000_000


def link_entities(
    mentions: DataFrame,
    alias_dict: DataFrame,
    threshold: float = 0.5,
    ngram: int = 2,
    scorer: str = "jaccard",
    emb_col: str = "embedding",
) -> DataFrame:
    """mentions(mention_id, pred, obj) × alias_dict(alias, canonical_id,
    block_key) -> (mention_id, pred, obj, canonical_id, score).

    Unlinked mentions are kept with NULL canonical_id (left join), so the
    caller can mint new vertex ids for them. A NULL obj or alias scores
    0.0 on the n-gram scorers.

    ``scorer``: 'jaccard' (char-n-gram set Jaccard, pure Catalyst — the
    default for short surfaces) or 'tfidf' (char-n-gram TF-IDF cosine
    via an Arrow-batched UDF, north_star's weighting for longer surface
    forms — rare-n-gram agreement counts more than boilerplate). The
    tfidf path collects the distinct non-NULL aliases to the driver to
    fit the IDF table and raises ValueError past ``MAX_TFIDF_ALIASES``.
    The guard is a single LIMIT cap+1 collect (one scan, one action) —
    driver memory on the failure path is bounded by cap+1 rows, the
    same order the success path holds at a full dictionary, never by
    the oversized dict's true size. An alias set past the cap isn't a
    curated dictionary; use ``scorer='jaccard'`` there.

    'embedding' (the third north_star scorer) scores candidates by the
    cosine of ``emb_col`` arrays both frames must carry (mention-context
    and alias embeddings from the same encoder) — pure Catalyst
    ``aggregate``/``zip_with`` arithmetic, no UDF, fully distributed;
    the blocking/broadcast/argmax machinery is shared with the other
    scorers, so switching scorers never changes the join shape.
    """
    m = mentions.withColumn("block_key", block_key_for_mention(F.col("pred"), F.col("obj")))
    if scorer == "jaccard":
        score_col = jaccard(
            char_ngrams(F.col("obj"), ngram), char_ngrams(F.col("alias"), ngram)
        )
    elif scorer == "tfidf":
        # single action: LIMIT cap+1 + collect is both the fit input and
        # the guard. A NULL alias is no document of the IDF corpus; the
        # batch scorer gives its candidates 0.0.
        rows = (
            alias_dict.select("alias")
            .where(F.col("alias").isNotNull())
            .distinct()
            .limit(MAX_TFIDF_ALIASES + 1)
            .collect()
        )
        if len(rows) > MAX_TFIDF_ALIASES:
            raise ValueError(
                f"alias dictionary has over {MAX_TFIDF_ALIASES} distinct "
                "aliases, past the tfidf driver-side fitting cap of a "
                "small curated dictionary; use scorer='jaccard' (fully "
                "distributed)"
            )
        score_fn = make_tfidf_batch_scorer([r.alias for r in rows], ngram)

        @F.pandas_udf("double")
        def tfidf_udf(obj: pd.Series, alias: pd.Series) -> pd.Series:
            from ..functions.worker import pin_worker_threads

            pin_worker_threads()
            return pd.Series(score_fn(obj, alias), dtype="float64")

        score_col = tfidf_udf(F.col("obj"), F.col("alias"))
    elif scorer == "embedding":
        from .similarity import cosine

        for side, df in (("mentions", mentions), ("alias_dict", alias_dict)):
            if emb_col not in df.columns:
                raise ValueError(
                    f"scorer='embedding' needs an {emb_col!r} column on "
                    f"{side}"
                )
        m = m.withColumnRenamed(emb_col, "_m_emb")
        alias_dict = alias_dict.withColumnRenamed(emb_col, "_a_emb")
        # NULL-safe: a missing embedding on either side scores 0.0
        # (unlinked) instead of propagating NULL through the argmax
        score_col = F.coalesce(
            cosine(F.col("_m_emb"), F.col("_a_emb")), F.lit(0.0)
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    cand = m.join(
        F.broadcast(alias_dict), on="block_key", how="left"
    ).withColumn("score", score_col)
    scored = cand.withColumn(
        "canonical_id",
        F.when(F.col("score") >= threshold, F.col("canonical_id")),
    )
    best = F.max_by(
        F.struct("canonical_id", "score", "alias"),
        F.struct(F.col("score"), F.col("canonical_id")),
    )
    return (
        scored.groupBy("mention_id", "pred", "obj")
        .agg(best.alias("_b"))
        .select(
            "mention_id",
            "pred",
            "obj",
            F.col("_b.canonical_id").alias("canonical_id"),
            F.round(F.col("_b.score"), 6).alias("score"),
        )
    )
