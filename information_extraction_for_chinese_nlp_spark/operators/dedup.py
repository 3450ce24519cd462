"""Deduplication suite for training-data pipelines.

All four families are expressed as shuffle-lean DataFrame plans:

- exact: hash-groupBy on md5(text) — one shuffle, map-side combine.
- MinHash + LSH: per-seed minima computed per partition in one Arrow
  ``mapInPandas`` -> band buckets -> JVM-side pair expansion inside
  each bucket; candidate generation is output-bound, and there is NO
  self-join anywhere (Spark re-executes the upstream pipeline for a
  self-join's second alias — measured).
- SimHash: per-bit majority vote over token hashes (one Arrow
  ``mapInPandas``) into 32-bit words — one word for n_bits ≤ 32, two
  for 64; ONE pair operator bands each word (pigeonhole) and verifies
  with bit_count(xor) summed over the words.
- n-gram Jaccard: ONE aggregation chain — set sizes ride as a
  projection through the shingle inverted index's bucket structs, so
  |A∩B| and |A|,|B| come out of the same pair expansion.

Every pair operator here — and the hyperplane-LSH near-dup pairs and
the KG linker elsewhere — shares one bucket step,
:func:`_bucket_pair_rows` (group by bucket key, cap, expand pairs).

All hashes are md5-hex (engine-portable: identical in DuckDB, so every
operator here is oracle-checkable). The relational (Catalyst)
formulations of MinHash and SimHash live in
``tests/catalyst_reference.py`` as the parity references.
"""

from __future__ import annotations

import operator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (text_md5, keep_id, n_dups): canonical row per distinct text."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def dedup_pipeline(docs: DataFrame, n_bands: int = 4, rows_per_band: int = 2,
                   id_col: str = "doc_id", text_col: str = "text",
                   max_bucket: int | None = 10_000,
                   observation=None,
                   checkpoint: bool = False) -> DataFrame:
    """The standard 100 TB dedup recipe as ONE composed plan:
    exact-keep -> MinHash-LSH near-dup pairs -> connected components ->
    LEFT ANTI keep-list. Returns the surviving rows of ``docs``
    (all original columns).

    Stage order is the scale argument: ``dedup_exact`` first means
    identical texts never reach the banding stage, so the O(n²)
    identical-signature bucket (the degenerate cluster ``max_bucket``
    guards against) collapses to a single canonical doc BEFORE pair
    expansion. Near-dup clusters are then canonicalized to their min
    id by ``connected_components`` and every non-canonical member is
    dropped with a LEFT ANTI join — no self-join. The pair pipeline
    (MinHash ``mapInPandas`` + bucket aggregation) runs once: the CC
    builds its symmetric edge table from one read of ``pairs``. A pair
    graph within ``components._LOCAL_CC_LIMIT`` symmetric rows (the
    usual near-dup graph: ~15k rows for a 2,000-doc corpus with Zipf-hot
    templates) is labeled on the driver in one collect; a larger one
    runs the distributed min-label loop.
    """
    from .components import connected_components

    exact_keep = dedup_exact(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    canonical = docs.join(exact_keep, on=id_col, how="left_semi")
    if checkpoint:
        # `canonical` is consumed twice (signature pipeline + final anti
        # join) and Spark re-executes the subtree per reference; a LAZY
        # localCheckpoint materializes it once at the first action so the
        # source is scanned twice total (exact-keep agg + canonical
        # build) instead of per-consumer. Opt-in: it pins executor
        # memory/disk for the canonical set, which a small composed gate
        # plan doesn't want but a corpus-scale curation run does.
        canonical = canonical.localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(
        canonical, n_bands, rows_per_band, id_col, text_col,
        max_bucket=max_bucket, observation=observation,
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return canonical.join(losers, on=id_col, how="left_anti")


def tokens(col):
    return F.split(col, " ")


def word_shingles(col, n: int = 3, keep_short: bool = True):
    """array of distinct word n-grams (space-joined).

    ``keep_short=True`` (default): a document with fewer than n tokens
    contributes ONE undersized shingle (its whole token run) — right for
    near-dup Jaccard, where two short docs must still be comparable.
    ``keep_short=False``: strict n-gram semantics — short docs yield an
    EMPTY array, matching the GPT-3/PaLM decontamination rule under
    which a 5-word doc has zero 13-grams (the undersized pseudo-shingle
    would flag clean training docs that merely share a short doc's
    prefix).

    Formulation (r8): a ``zip_with`` chain over shifted slices of the
    token array — shingle i is built by n-1 pairwise concats of
    neighbors — instead of the old
    ``transform(indices, i -> array_join(slice(toks, i+1, n)))``.
    Interpreted higher-order lambdas have no CSE, so the old shape
    re-ran the full regex ``split`` of the document PER SHINGLE INDEX
    (O(tokens) splits per row); here ``split`` is evaluated a handful
    of times per row (the chain inputs), and the per-element work is a
    plain concat of lambda variables. Byte-identical output — both
    modes, NULL text ([NULL] / []), multi-space, short docs — pinned
    against the old formulation; measured 3.5x on the sf0.1 3-gram
    explode (1.20s -> 0.34s min-of-4)."""
    toks = tokens(col)
    L = F.size(toks)
    chain = toks
    for k in range(1, n):
        # slice may be shorter than `chain`: zip_with pads with NULL and
        # the lambda keeps the left side, which yields exactly the
        # undersized tail shingles the final slice() then drops (or the
        # whole-run shingle keep_short retains at index 0)
        nxt = F.slice(toks, k + 1, F.greatest(L - k, F.lit(0)))
        chain = F.zip_with(
            chain,
            nxt,
            lambda a, b: F.when(b.isNull(), a).otherwise(
                F.concat(a, F.lit(" "), b)
            ),
        )
    if keep_short:
        # NULL text: the old formulation produced a single-NULL array
        # (slice(NULL) -> NULL element under the [0] index) — preserved
        return F.when(
            col.isNull(), F.array(F.lit(None).cast("string"))
        ).otherwise(
            F.array_distinct(
                F.slice(chain, 1, F.greatest(L - n + 1, F.lit(1)))
            )
        )
    return F.when(
        L >= n, F.array_distinct(F.slice(chain, 1, L - n + 1))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_text_col: str = "text",
                  max_eval_grams: int = 50_000_000) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an evaluation corpus (the GPT-3/PaLM-style 13-gram
    overlap rule; n defaults lower because the synthetic fixtures are
    short — pass n=13 for real corpora).

    -> (doc_id, n_hits, contaminated) for EVERY input doc: n_hits =
    distinct overlapping n-grams, contaminated = n_hits > 0. Compose
    with a filter or LEFT ANTI join to drop flagged docs.

    Scale shape: the eval side is a benchmark — thousands of docs, not
    the 100 TB side — so its distinct n-gram set BROADCASTS and the
    corpus side never shuffles: explode distinct per-doc shingles, hash
    join against the broadcast set, count per doc, left-join the flags
    back (the flag join keys on ``id_col`` only — Catalyst broadcasts
    the aggregated hit table, which is ≤ |contaminated docs| rows).
    ``max_eval_grams`` fails fast if the "small" side isn't (a broadcast
    that size would OOM every executor); shard the eval set and union
    the flags if you genuinely need more.

    Guard cost (VERDICT r4 task 4): the eval side is computed ONCE —
    the eager localCheckpoint below is the single pass over the eval
    corpus, and both the guard's count() and the broadcast join read
    the materialized blocks, so the count is a block-manager scan (no
    recompute), not a second pass over the data.
    """
    eval_grams = (
        eval_docs.select(
            F.explode(
                word_shingles(F.col(eval_text_col), n, keep_short=False)
            ).alias("g")
        )
        .distinct()
        # materialized ONCE (the guard count below and the broadcast join
        # both consume this aggregation — recomputing would run the
        # eval-side explode+distinct as two full jobs); localCheckpoint
        # over cache() so the blocks free themselves when the frame is
        # garbage-collected instead of pinning storage until an explicit
        # unpersist nobody can call on a returned plan
        .localCheckpoint(eager=True)
    )
    n_eval = eval_grams.count()
    if n_eval > max_eval_grams:
        raise ValueError(
            f"eval corpus has {n_eval} distinct {n}-grams, over the "
            f"broadcast cap ({max_eval_grams}); shard the eval set and "
            "union the flags, or raise max_eval_grams explicitly"
        )
    doc_grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n, keep_short=False)).alias("g"),
    )
    hits = (
        doc_grams.join(F.broadcast(eval_grams), on="g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _md5_minima_factory(n_seeds: int, memo_cap: int | None = None):
    """Per-doc md5 minima computed INSIDE an Arrow batch (min over
    md5-hex of token#seed), so nothing explodes through a shuffle.

    Returns a FACTORY: call it once per partition to get a doc->minima
    function with its own token-digest memo. Corpus vocabulary is
    Zipfian, so most (token, seed) hashes repeat across documents — the
    memo collapses the md5 count from Σ|tokens|·n_seeds to
    |vocab|·n_seeds per partition (capped at ``memo_cap`` tokens; past
    the cap digests are still computed, just not stored). Minima compare
    raw 16-byte digests (hex is byte-monotone, so min-of-digest ==
    min-of-hexdigest) and only the winners pay the hex conversion.

    ``memo_cap`` defaults to a ~64 MB per-worker byte budget
    (entries × n_seeds × 16-byte digests): the Zipf head fits easily,
    tail tokens past the cap are computed but not stored."""
    if memo_cap is None:
        memo_cap = max((1 << 22) // max(n_seeds, 1), 1 << 14)

    def make_doc_minima():
        from hashlib import md5

        suffixes = [f"#{s}".encode("utf-8") for s in range(n_seeds)]
        memo: dict[str, list[bytes]] = {}

        def token_digests(w: str) -> list[bytes]:
            ds = memo.get(w)
            if ds is None:
                base = md5(w.encode("utf-8"))
                ds = []
                for suf in suffixes:
                    h = base.copy()
                    h.update(suf)
                    ds.append(h.digest())
                if len(memo) < memo_cap:
                    memo[w] = ds
            return ds

        def doc_minima(text: str) -> list[str]:
            mins: list[bytes | None] = [None] * n_seeds
            for w in set(text.split(" ")):
                ds = token_digests(w)
                for i in range(n_seeds):
                    d = ds[i]
                    m = mins[i]
                    if m is None or d < m:
                        mins[i] = d
            return [m.hex() for m in mins]

        return doc_minima

    return make_doc_minima


def _minhash_bands(docs: DataFrame, n_bands: int, rows_per_band: int,
                   id_col: str, text_col: str) -> DataFrame:
    """-> (doc_id, band_id, band): each document's n_bands band strings
    (its rows_per_band consecutive minhashes, '|'-joined) from ONE
    ``mapInPandas`` — the shuffle input is n_bands rows per document,
    not the tokens × n_seeds rows a token-explode + per-seed
    aggregation would shuffle. A NULL text emits no rows (as
    explode(NULL) would)."""
    make_doc_minima = _md5_minima_factory(n_bands * rows_per_band)
    id_type = docs.schema[id_col].dataType.simpleString()

    def band_map(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        doc_minima = make_doc_minima()
        for pdf in batches:
            out_id, out_bid, out_band = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                mins = doc_minima(text)
                for b in range(n_bands):
                    out_id.append(doc_id)
                    out_bid.append(b)
                    out_band.append(
                        "|".join(mins[b * rows_per_band:(b + 1) * rows_per_band])
                    )
            yield pd.DataFrame(
                {"doc_id": out_id, "band_id": out_bid, "band": out_band}
            )

    return docs.select(id_col, text_col).mapInPandas(
        band_map, f"doc_id {id_type}, band_id int, band string"
    )


def minhash_signatures(docs: DataFrame, n_seeds: int = 4,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, seed, minhash): per-seed min of md5(token#seed)
    (Broder '97 min-wise independent permutations; b×r banding per
    Leskovec/Rajaraman/Ullman, MMDS ch.3).

    String-min over md5 hex is a valid min-wise hash family and is
    byte-identical across engines (the DuckDB oracle computes it as a
    token explode + per-seed min). A signature is a band of one row,
    so this is :func:`_minhash_bands` at rows_per_band=1.

    Signatures are per input ROW: a ``doc_id`` that appears twice gets
    two sets of ``n_seeds`` rows, one per text (NULL texts get none)."""
    return _minhash_bands(docs, n_seeds, 1, id_col, text_col).toDF(
        "doc_id", "seed", "minhash"
    )


def _cap_buckets(buckets: DataFrame, cap: int | None, observation) -> DataFrame:
    """Drop inverted-index buckets larger than ``cap`` (None = explicit
    opt-out, documented at each caller). When a ``pyspark.sql.Observation``
    is passed, the pre-filter bucket stats are observed so dropped work is
    COUNTED, never silent: after the first action on the result,
    ``observation.get`` carries ``dropped_buckets``, ``dropped_ids``
    (ids inside dropped buckets — each would have expanded O(size²)
    pairs), ``max_bucket_size`` and ``p99_bucket_size``.

    max/p99 are the live check on the coarse-keyspace sizing rule (see
    :func:`simhash_near_pairs`): bucket sizes grow ~N/keyspace on a
    uniform corpus, but a skewed corpus concentrates mass in few codes —
    max >> p99 is the signature of that skew, and the cue to either
    narrow the bands (more bits per band) or turn the cap on."""
    if observation is not None:
        over = (
            F.lit(False) if cap is None else (F.size("ids") > F.lit(cap))
        )
        buckets = buckets.observe(
            observation,
            F.coalesce(
                F.sum(F.when(over, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("dropped_buckets"),
            F.coalesce(
                F.sum(F.when(over, F.size("ids")).otherwise(0)), F.lit(0)
            ).cast("long").alias("dropped_ids"),
            F.coalesce(F.max(F.size("ids")), F.lit(0)).cast("long").alias(
                "max_bucket_size"
            ),
            F.coalesce(
                F.percentile_approx(F.size("ids"), 0.99), F.lit(0)
            ).cast("long").alias("p99_bucket_size"),
        )
    if cap is None:
        return buckets
    return buckets.filter(F.size("ids") <= cap)


def _bucket_pairs(ids):
    """Ordered (doc_a < doc_b) pair structs from a sorted id array —
    JVM-side pair expansion inside an inverted-index bucket. Replaces a
    self-join: Spark does not reuse the exchange across self-join
    aliases (measured), so joining a bucketed table with itself re-runs
    the whole upstream pipeline for the second side."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _bucket_pair_rows(rows: DataFrame, keys: tuple, id_col: str,
                      carry: tuple = (), *, cap: int | None,
                      observation) -> DataFrame:
    """-> (p): one row per ordered pair struct ``p.doc_a`` / ``p.doc_b``
    sharing an inverted-index bucket — the bucket step of every
    set-similarity operator (MinHash, SimHash, n-gram, hyperplane LSH,
    the KG linker), so a change to it lands on all of them.

    ``rows`` are grouped by ``keys``; a bucket holds the sorted
    ``id_col`` values, or the sorted ``struct(id_col, *carry)`` when
    columns the verify step needs ride along. Buckets of one are
    dropped, oversized ones go through :func:`_cap_buckets`, and pairs
    are expanded JVM-side by :func:`_bucket_pairs`. A row with a NULL id
    never enters a bucket: ``collect_list`` skips a NULL id, and a
    struct payload filters NULL ids first (Catalyst drops that filter
    when the id column cannot be NULL)."""
    payload = F.col(id_col)
    if carry:
        rows = rows.filter(F.col(id_col).isNotNull())
        payload = F.struct(id_col, *carry)
    buckets = (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(payload)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = _cap_buckets(buckets, cap, observation)
    return buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))


def minhash_lsh_pairs(docs: DataFrame, n_bands: int = 4, rows_per_band: int = 2,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket: int | None = 10_000,
                      observation=None) -> DataFrame:
    """-> (doc_a, doc_b) candidate near-dup pairs sharing at least one band.

    Standard b×r banding: signature of n_bands*rows_per_band minhashes,
    split into n_bands bands of rows_per_band each; a pair is a
    candidate iff some band matches exactly. Detection probability for
    Jaccard s is 1-(1-s^r)^b — the default (b=4, r=2) catches a
    0.8-Jaccard pair with p≈0.98 (a single band of 4 rows would only
    manage ≈0.41).

    Pairs come from ONE aggregation chain, not a self-join: docs group
    into (band_id, band) buckets and ordered pairs are expanded
    JVM-side inside each bucket. A self-join would re-run the whole
    signature pipeline for its second input (Spark does not reuse the
    exchange across the two aliases — measured), doubling the dominant
    cost at scale. Duplicates across bands collapse with a distinct;
    work stays output-bound, never all-pairs.

    ``max_bucket`` drops buckets larger than the cap — a bucket of n
    docs (an exact-dup cluster: identical signatures) expands to
    O(n²) pairs that dedup_exact already answers in O(n). The cap
    defaults ON (10k — far above any honest near-dup cluster after an
    exact pre-pass, tiny next to the multi-million-row exact clusters a
    100 TB crawl corpus carries); pass ``max_bucket=None`` to opt out
    explicitly. ON is safe HERE because band keys are md5-string
    r-tuples — a 2^128-sized keyspace where two documents share a
    bucket only by sharing signature content, so bucket size tracks
    duplication, not corpus size (contrast ``simhash_near_pairs``,
    whose few-bit band keyspace makes buckets grow with N — its cap
    defaults OFF). Dropped buckets are never silent: pass a
    ``pyspark.sql.Observation`` as ``observation`` to get
    ``dropped_buckets`` / ``dropped_ids`` / ``max_bucket_size`` after
    the first action. Run ``dedup_pipeline`` (exact pre-pass first)
    rather than raising the cap when exact dups are the cause.

    Band strings come from :func:`_minhash_bands` (one ``mapInPandas``),
    so the plan has exactly two shuffles: the bucket aggregation and
    the pair distinct. It measured ahead of the Catalyst
    token-explode + per-seed aggregation (four shuffles) at every
    signature budget, even the smallest (b=2×r=2 on the sf0.1 corpus:
    1.02s vs 1.50s min-of-4).
    """
    banded = _minhash_bands(docs, n_bands, rows_per_band, id_col, text_col)
    return (
        _bucket_pair_rows(banded, ("band_id", "band"), "doc_id",
                          cap=max_bucket, observation=observation)
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _simhash_words_factory(n_bits: int, memo_cap: int | None = None):
    """Factory (one per partition) for doc -> packed fingerprint words.

    Bit b of a token = bit (b//32) of md5 hex digit (b%32); fingerprint
    bit = positive ±1 vote over distinct tokens. Token bit-vectors are
    memoized (Zipfian vocab) and votes accumulate in one numpy add per
    token, so the per-doc cost is O(|tokens|) instead of the
    tokens×n_bits exploded shuffle rows of a relational formulation.
    Returns the fingerprint as a list of 32-bit words, low word first
    (1 word for n_bits ≤ 32, two for 64). ``memo_cap`` defaults to a
    ~32 MB per-worker byte budget (entries × n_bits × 8-byte votes)."""
    import numpy as np

    if memo_cap is None:
        memo_cap = max((1 << 22) // max(n_bits, 1), 1 << 14)

    n_words = (n_bits + 31) // 32
    idx = np.arange(n_bits) % 32
    shift = np.arange(n_bits) // 32
    weights = np.array([1 << (b % 32) for b in range(n_bits)], dtype=np.int64)
    word_of = np.arange(n_bits) // 32

    def make_doc_words():
        from hashlib import md5

        memo: dict[str, "np.ndarray"] = {}

        def token_votes(w: str):
            v = memo.get(w)
            if v is None:
                digits = np.frombuffer(
                    bytes.fromhex(md5(w.encode("utf-8")).hexdigest()), dtype=np.uint8
                )
                # hex digits in order: high nibble then low nibble per byte
                d = np.empty(32, dtype=np.int64)
                d[0::2] = digits >> 4
                d[1::2] = digits & 15
                v = (((d[idx] >> shift) & 1) * 2 - 1).astype(np.int64)
                if len(memo) < memo_cap:
                    memo[w] = v
            return v

        def doc_words(text: str) -> list[int]:
            votes = np.zeros(n_bits, dtype=np.int64)
            for w in set(text.split(" ")):
                votes += token_votes(w)
            bits = (votes > 0) * weights
            return [int(bits[word_of == wd].sum()) for wd in range(n_words)]

        return doc_words

    return make_doc_words


def _simhash_fp(docs: DataFrame, n_bits: int, word_cols: tuple,
                id_col: str, text_col: str) -> DataFrame:
    """-> (doc_id, *word_cols): fingerprints from ONE ``mapInPandas``,
    ``word_cols`` naming the 32-bit words low word first. A NULL text
    emits no row (as explode(NULL) would)."""
    make_doc_words = _simhash_words_factory(n_bits)
    id_type = docs.schema[id_col].dataType.simpleString()

    def fp_map(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        doc_words = make_doc_words()
        for pdf in batches:
            out_id, out_words = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                out_id.append(doc_id)
                out_words.append(doc_words(text))
            yield pd.DataFrame({
                "doc_id": out_id,
                **{c: [ws[i] for ws in out_words]
                   for i, c in enumerate(word_cols)},
            })

    return docs.select(id_col, text_col).mapInPandas(
        fp_map,
        f"doc_id {id_type}, " + ", ".join(f"{c} long" for c in word_cols),
    )


def simhash(docs: DataFrame, n_bits: int = 16,
            id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash): n_bits-bit majority fingerprint (n_bits ≤ 32).

    Bit b of a token = parity of hex digit b of md5(token); fingerprint
    bit b = 1 iff the +1/-1 vote over distinct tokens is positive.
    Computed per partition in one ``mapInPandas`` (see
    :func:`_simhash_words_factory`); the DuckDB oracle's token explode +
    per-bit vote is byte-identical. ``bench.py`` q4 times this path
    fully evaluated (BASELINE.md has it against the explode/vote
    formulation in Catalyst).

    One output row per input row with a non-NULL text: a ``doc_id``
    that appears twice gets two fingerprints, one per text.
    """
    if n_bits > 32:
        # one hex digit per bit: md5 has 32, and past them the high
        # bits would all vote 0 — identical high bands for ALL docs
        raise ValueError("md5 has 32 hex digits; use simhash_wide for n_bits > 32")
    return _simhash_fp(docs, n_bits, ("simhash",), id_col, text_col)


def simhash_wide(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """-> (doc_id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit words
    (Charikar, STOC'02 random-hyperplane sketch; 64-bit fingerprints per
    Manku/Jain/Sarma, WWW'07).

    The 32-bit ``simhash`` uses one md5 hex digit's parity per bit; the
    industry-standard 64-bit fingerprint needs two bits per digit, so
    bit b here = bit (b // 32) of hex digit (b % 32) — bits 0-31 are
    exactly the classic parity construction, bits 32-63 the digits'
    second bit. Two words instead of one packed long keeps every
    arithmetic step inside exact double/BIGINT range on BOTH engines
    (packing bit 63 would overflow a signed long / lose double mantissa
    precision), so the operator stays oracle-checkable.

    One output row per input row with a non-NULL text, as ``simhash``.
    """
    return _simhash_fp(
        docs, 64, ("sim_lo", "sim_hi"), id_col, text_col
    ).select("doc_id", "sim_hi", "sim_lo")


def simhash_near_pairs(docs: DataFrame, n_bits: int = 16, n_bands: int = 4,
                       max_hamming: int = 3, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_bucket: int | None = None,
                       observation=None) -> DataFrame:
    """-> (doc_a, doc_b, hamming): SimHash pairs with fingerprint
    Hamming distance ≤ max_hamming, over the n_bits ≤ 32 ``simhash``
    or the 64-bit two-word ``simhash_wide`` (n_bits=64).

    Pigeonhole banding: the n_bits fingerprint splits into n_bands
    equal bit slices; two fingerprints within Hamming distance
    n_bands-1 MUST agree on at least one slice, so bucketing by
    (band_id, band_bits) has recall 1.0 for max_hamming ≤ n_bands-1 —
    candidates then verify the true distance with bit_count(xor) summed
    over the fingerprint's 32-bit words (at 64 bits this is the
    block-permutation trick of Manku/Jain/Sarma, WWW'07; a band must not
    straddle a word). Same single-pass bucket expansion as
    minhash_lsh_pairs (fingerprint computed once, no self-join).
    ``max_bucket`` defaults OFF: band values span only
    2^(n_bits/n_bands) possibilities (16 at the defaults), so bucket
    size grows ~N/keyspace — a fixed cap would drop every bucket past
    moderate corpus sizes and silently break the pigeonhole recall
    contract. Set it explicitly (with an ``observation`` so drops are
    counted) only when targeting true exact-dup clusters — or better,
    exact-dedup first.

    Sizing rule (corpus size N, target expected bucket size B): per-band
    keyspace is 2^(n_bits/n_bands), so E[bucket] ≈ N / 2^(n_bits/n_bands)
    on a near-uniform fingerprint distribution — choose

        n_bands ≤ n_bits / log2(N / B)

    e.g. B=10^4 at N=10^6 needs ≥7 bits/band (16-bit/2-band ok);
    N=10^9 needs ≥17 bits/band (64-bit, ≤3 bands); N=10^12 needs ≥27
    bits/band (64-bit, 2 bands — and max_hamming ≤ 1, so exact-dedup
    and shard first, or move to MinHash banding whose md5 keyspace
    doesn't bound recall this way). The estimate assumes uniformity;
    pass an ``observation`` and read ``max_bucket_size`` /
    ``p99_bucket_size`` after the first action to check it — max >> p99
    means fingerprint mass is concentrating (templated/boilerplate
    corpus) and the band width must grow regardless of the formula.
    """
    if n_bits > 32 and n_bits != 64:
        raise ValueError(f"n_bits={n_bits}: SimHash is ≤ 32 bits or 64")
    bpb = n_bits // n_bands
    if n_bands * bpb != n_bits:
        raise ValueError("n_bands must divide n_bits")
    if n_bits == 64 and 32 % bpb:
        raise ValueError("bands must not straddle the 32-bit word boundary")
    if max_hamming > n_bands - 1:
        # beyond n_bands-1 the pigeonhole guarantee breaks: a pair at
        # distance in (n_bands-1, max_hamming] can differ in EVERY band
        # and is silently missed — the return contract would lie.
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"n_bands-1={n_bands - 1}; raise n_bands or lower max_hamming"
        )
    if n_bits == 64:
        fp, words = simhash_wide(docs, id_col, text_col), ("sim_lo", "sim_hi")
    else:
        fp, words = simhash(docs, n_bits, id_col, text_col), ("simhash",)
    mask = (1 << bpb) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col(words[(b * bpb) // 32]), (b * bpb) % 32)
            .bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    banded = fp.select("*", F.posexplode(band_vals).alias("band_id", "band"))
    carry = tuple(fp.columns[1:])
    ham = reduce(operator.add, [
        F.bit_count(F.col(f"p.doc_a.{w}").bitwiseXOR(F.col(f"p.doc_b.{w}")))
        for w in carry
    ])
    pairs = (
        _bucket_pair_rows(banded, ("band_id", "band"), "doc_id", carry,
                          cap=max_bucket, observation=observation)
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.1,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_df: int | None = 10_000,
                        observation=None) -> DataFrame:
    """-> (doc_a, doc_b, jac): word-n-gram Jaccard ≥ threshold.

    Scalable formulation: pairs come from the shingle inverted index
    (one aggregation chain — no self-join, so the shingle explode runs
    ONCE; see _bucket_pair_rows), and disjoint documents never meet.
    ``max_df`` caps hot shingles — a shingle appearing in more than
    max_df documents is dropped from the index before pair expansion
    (it contributes O(df²) candidate pairs but almost no Jaccard
    discrimination, and it bounds the per-bucket id array). Default ON
    (``None`` = explicit opt-out; drops counted via ``observation`` —
    see ``minhash_lsh_pairs``); the capped Jaccard is an under-estimate, so it can only
    lose borderline pairs, never invent them. Sizes are computed on the
    UNCAPPED shingle sets so reported jac stays a true lower bound of
    the real value.
    """
    # set sizes ride along as a PROJECTION (size of the distinct-shingle
    # array) and through the bucket structs — no second aggregation over
    # the exploded shingles and no post-hoc size joins: the whole
    # operator is one linear aggregation chain.
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), n).alias("_sh"),
    )
    sh = base.select(
        "doc_id", F.size("_sh").alias("n_sh"), F.explode("_sh").alias("s")
    )
    inter = (
        _bucket_pair_rows(sh, ("s",), "doc_id", ("n_sh",), cap=max_df,
                          observation=observation)
        .groupBy(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.n_sh").alias("n_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    raw_jac = (
        F.col("n_inter")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    )
    # filter on the RAW ratio, round only for output: the oracle
    # thresholds unrounded, and a pair at jac ∈ [threshold−5e-7,
    # threshold) would round up across the cut and diverge
    return (
        inter.filter(raw_jac >= threshold)
        .select("doc_a", "doc_b", F.round(raw_jac, 6).alias("jac"))
    )


# Hot-set size at or below which line_dedup takes the in-row leg: the
# two legs tie at 64. Medians of 6 alternating pairs per leg at local[4]
# on bench._line_dedup_fixture (20k docs x 30 lines, hot set prebuilt),
# in-row vs relational: 0.66s vs 1.10s at 16 hot lines, 0.87s vs 0.86s
# at 64, 2.34s vs 0.78s at 256, 7.41s vs 0.78s at 1,000 — the in-row
# scan is O(|hot|) per line, the relational leg flat.
# Re-measure with `python bench.py --line-dedup-ab`.
_INROW_HOT_LIMIT = 64

# Hot-set size past which the relational leg drops its broadcast hint
# (a row-count proxy for ~100 MB of lines). Cluster-sized, not
# local-tuned: at 1M hot lines (200k docs x 30 lines) the unhinted
# shuffle join ties or wins locally — 4.45s vs 4.74s hinted at local[4]
# (median of 3 alternating pairs), 14.3s vs 25.0s at local[32]
# (BASELINE.md "oversized-hot-set A/B") — because the line-key exchange
# is an intra-box copy; on a cluster it re-shuffles the corpus-sized
# exploded side over the network, which dwarfs the broadcast.
# `python bench.py --line-dedup-oversized` times both plans.
# The hint cannot be left to AQE: the checkpointed hot set's statistics
# are the origin plan's size estimate, which scales with the input, not
# with the hot set (the 2-line hot set of
# test_line_dedup_relational_unbounded_hot_set reports 6.2 EiB and
# plans a SortMergeJoin unhinted), so without the hint every
# relational-leg run would sort-merge the exploded corpus.
_BROADCAST_HOT_LIMIT = 4_000_000


def line_dedup(docs: DataFrame, min_df: int = 3,
               id_col: str = "doc_id", text_col: str = "text",
               keep: tuple = ()) -> DataFrame:
    """Corpus-level line deduplication (CCNet/C4-family boilerplate
    removal): any non-empty line whose EXACT text appears in at least
    ``min_df`` DISTINCT documents is removed from EVERY document —
    headers, footers, cookie banners, navigation chrome. Empty lines
    are structural and never counted or removed.

    -> (doc_id, text, n_dropped): ``text`` with hot lines removed
    (remaining lines re-joined with newline, order preserved),
    ``n_dropped`` = lines removed from that document.

    The hot-line set is found with one DISTINCT (doc, line) pass + a
    map-side-combinable count, materialized once (eager
    localCheckpoint, same guard-then-broadcast pattern as
    ``decontaminate``) — its size ``n_hot`` then picks the membership
    leg (results are identical; parity is pytest-pinned):

    - in-row (``n_hot <= _INROW_HOT_LIMIT``): the hot set rides as ONE
      broadcast array and each document filters its split-lines array
      in place. Zero corpus shuffle, pure Catalyst — but membership is
      ``array_contains``, an O(n_hot) scan PER LINE. (Sublinear in-row
      membership has no builtin: ``bloom_filter_agg``/``might_contain``
      are not in the public FunctionRegistry — verified on this Spark —
      and Catalyst map lookup is itself a linear probe.)
    - relational (larger hot sets): posexplode lines -> hash join
      against the hot set (O(1) JVM-side probe, no Python) ->
      order-preserving reassembly. It shuffles the corpus once (one
      groupBy per document row) and has NO bound on the hot set: the
      join carries an ``F.broadcast`` hint while
      ``n_hot <= _BROADCAST_HOT_LIMIT`` and plans WITHOUT it past that
      — AQE picks shuffle-hash/sort-merge, costing one extra exchange
      on the line key but surviving hot sets of any size.

    ``keep``: passenger columns carried through unchanged (between
    ``doc_id`` and ``text`` in the output) — what lets a composed
    curation job run boilerplate removal without a join-back to
    recover its strata/metadata columns.
    """
    # tuple ONCE before anything consumes it: a one-shot iterable
    # passed as keep= must survive both validation and the legs
    keep = tuple(keep)
    _validate_line_dedup_args(keep)
    return _line_dedup_apply(
        docs, _hot_lines(_line_df(docs, id_col, text_col), min_df),
        id_col=id_col, text_col=text_col, keep=keep,
    )


def _line_df(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (_line, _df): per-line DISTINCT-document frequencies — the
    counting definition shared by batch ``line_dedup`` and
    ``streaming.stream.stream_line_dedup`` (which writes these as
    per-batch partials), so what counts as a "hot line" cannot drift
    between the two faces. The projection emits only its two aliased
    columns, so the internal names stay literal."""
    lines = F.split(F.col(text_col), "\n")
    return (
        docs.select(
            F.col(id_col).alias("_d"),
            F.explode(lines).alias("_line"),
        )
        .filter(F.col("_line") != "")
        .distinct()
        .groupBy("_line")
        .agg(F.count("*").alias("_df"))
    )


def _hot_lines(line_df: DataFrame, min_df: int) -> DataFrame:
    """-> (_line): the lines of a (_line, _df) frame with ``_df >=
    min_df``, materialized once (eager localCheckpoint) so the leg
    choice and the chosen leg read the same small frame."""
    return (
        line_df.filter(F.col("_df") >= min_df)
        .select("_line")
        .localCheckpoint(eager=True)
    )


def _validate_line_dedup_args(keep: tuple) -> None:
    reserved = {"doc_id", "text", "n_dropped"}
    if bad := [k for k in keep if k in reserved]:
        raise ValueError(
            f"keep columns {bad} collide with line_dedup's fixed output "
            "names (doc_id, text, n_dropped) — rename them first"
        )


def _line_dedup_apply(docs: DataFrame, hot: DataFrame, *, id_col: str,
                      text_col: str, keep: tuple) -> DataFrame:
    """Membership/rewrite stage of :func:`line_dedup` against an
    EXTERNALLY supplied hot-line frame (one column ``_line``, already
    materialized small) — shared by the batch operator and
    ``streaming.stream.stream_line_dedup`` so the two faces cannot
    drift. The hot-set size alone picks the leg; callers validate
    ``keep`` first."""
    n_hot = hot.count()
    if n_hot <= _INROW_HOT_LIMIT:
        return _line_dedup_inrow(docs, hot, id_col, text_col, keep)
    return _line_dedup_relational(
        docs, hot, id_col, text_col, keep,
        broadcast_hot=n_hot <= _BROADCAST_HOT_LIMIT,
    )


def _work_suffix(docs: DataFrame) -> str:
    """Collision-proof suffix for the legs' working column names (same
    discipline as similarity.unit_vectors's _nrm): ONE suffix clears
    EVERY leg's internal name against the caller's columns, so
    passenger columns named _line/_pos/... work on both legs."""
    work = ("_hot", "_rid", "_pos", "_line", "_lines", "_is_hot")
    sfx = ""
    cols = set(docs.columns)
    while any(n + sfx in cols for n in work):
        sfx += "_"
    return sfx


def _line_dedup_inrow(docs: DataFrame, hot: DataFrame, id_col: str,
                      text_col: str, keep: tuple) -> DataFrame:
    """Small-hot-set leg of :func:`line_dedup`: the hot set rides as one
    broadcast array and each document filters its own lines in place."""
    hot_col = "_hot" + _work_suffix(docs)
    lines = F.split(F.col(text_col), "\n")
    hot_row = hot.agg(
        F.coalesce(
            F.collect_list("_line"), F.array().cast("array<string>")
        ).alias(hot_col)
    )
    kept = F.filter(
        lines,
        lambda x: (x == "") | ~F.array_contains(F.col(hot_col), x),
    )
    return (
        docs.crossJoin(F.broadcast(hot_row))
        .select(
            F.col(id_col).alias("doc_id"),
            *keep,
            F.array_join(kept, "\n").alias("text"),
            (F.size(lines) - F.size(kept)).cast("long").alias("n_dropped"),
        )
    )


def line_dedup_rewrite(docs: DataFrame, min_df: int,
                       id_col: str = "doc_id", text_col: str = "text"):
    """Boilerplate-removal STAGE for composed jobs (curate and the
    run_dataprep CLI share this — one copy of the sequence): returns
    ``(rewritten, ld)`` where ``rewritten`` has the caller's column
    layout (``text_col`` rewritten, passenger columns untouched) and
    ``ld`` is the raw line_dedup frame (doc_id/…/text/n_dropped) for
    drop metrics. Both read ONE lazy-checkpoint materialization, so a
    metric aggregation plus the downstream pipeline cost a single
    execution of the rewrite. NOTE: calling this (like ``line_dedup``)
    runs the hot-set discovery pass eagerly."""
    passengers = [c for c in docs.columns if c not in (id_col, text_col)]
    ld = line_dedup(
        docs, min_df=min_df, id_col=id_col, text_col=text_col,
        keep=tuple(passengers),
    ).localCheckpoint(eager=False)
    # POSITIONAL layout restored too, not just by-name: a source laid
    # out (doc_id, text, lang) must come back (doc_id, text, lang), so
    # downstream writers keep the caller's column order
    rewritten = ld.select(*[
        F.col("doc_id").alias(id_col) if c == id_col
        else F.col("text").alias(text_col) if c == text_col
        else F.col(c)
        for c in docs.columns
    ])
    return rewritten, ld


def _line_dedup_relational(docs: DataFrame, hot: DataFrame, id_col: str,
                           text_col: str, keep: tuple,
                           broadcast_hot: bool = True) -> DataFrame:
    """Unbounded-hot-set leg of :func:`line_dedup`: explode -> hash
    join against the hot set (O(1) probe per line) -> order-preserving
    reassembly. posexplode_outer + an aggregation over ALL exploded
    rows (kept lines collected conditionally) keeps every document —
    including ones whose every line is hot — without a join back to
    the source. Reassembly groups on a per-ROW id, not ``id_col``, so
    duplicate (or NULL) doc ids keep their per-row multiplicity exactly
    like the in-row leg; a NULL text (NULL split array -> the one
    NULL-pos exploded row) round-trips to (NULL, NULL), also matching
    it.

    ``broadcast_hot``: hint the hot side as broadcast (zero-shuffle
    probe); the caller turns it off past ``_BROADCAST_HOT_LIMIT``, where
    the plans differ as :func:`line_dedup` describes.

    Stage-retry caveat: the per-row grouping key is
    ``monotonically_increasing_id``, a nondeterministic stamp. Spark
    marks the stage INDETERMINATE (SPARK-23207 family) and on a
    fetch-failure retry rolls back and re-runs the whole stage rather
    than mixing old and new stamps; correctness rides on that rollback
    machinery, not on the stamp itself. A fully deterministic key would
    need a within-duplicate disambiguator — i.e. a pre-shuffle of the
    corpus keyed by full row content — which would double the leg's
    corpus shuffles for a failure mode Spark already handles."""
    # per-row grouping key: values are consumed and dropped inside this
    # one plan, so layout-dependence is irrelevant. MUST be stamped in
    # its own projection BELOW the explode — in the same select as
    # posexplode_outer the nondeterministic id is evaluated per
    # EXPLODED row (one group per line); CollapseProject never merges
    # nondeterministic projections, so this stays an input-row stamp.
    sfx = _work_suffix(docs)
    rid, pos, line = "_rid" + sfx, "_pos" + sfx, "_line" + sfx
    lines_col, is_hot = "_lines" + sfx, "_is_hot" + sfx
    stamped = docs.select(
        F.monotonically_increasing_id().alias(rid),
        F.col(id_col).alias("doc_id"),
        *keep,
        F.split(F.col(text_col), "\n").alias(lines_col),
    )
    exploded = stamped.select(
        rid,
        "doc_id",
        *keep,
        F.posexplode_outer(F.col(lines_col)).alias(pos, line),
    )
    keep_line = (F.col(line) == "") | F.col(is_hot).isNull()
    was_null = F.max(F.col(pos).isNull())
    hot_side = hot.withColumnRenamed("_line", line).withColumn(
        is_hot, F.lit(True)
    )
    if broadcast_hot:
        hot_side = F.broadcast(hot_side)
    return (
        exploded.join(
            hot_side,
            on=line,
            how="left",
        )
        .groupBy(rid)
        .agg(
            F.first("doc_id").alias("doc_id"),
            *[F.first(k).alias(k) for k in keep],
            F.when(
                ~was_null,
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep_line, F.struct(pos, line))
                            )
                        ),
                        lambda s: s[line],
                    ),
                    "\n",
                ),
            ).alias("text"),
            F.when(
                ~was_null, F.sum(F.when(keep_line, 0).otherwise(1))
            ).cast("long").alias("n_dropped"),
        )
        .select("doc_id", *keep, "text", "n_dropped")
    )
