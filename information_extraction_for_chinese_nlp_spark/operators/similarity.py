"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact top-k cosine over the whole corpus.
- ann_topk: multiprobe random-hyperplane LSH; a query scores only the
  corpus rows in its probe buckets.
- ivf_search / ivf_topk: k-means cells; a query scores only the corpus
  rows in its n_probe nearest cells.

The three searches share one scorer (``_search``): the query set, small
by contract, is collected and unit-normalized on the driver and ships in
the task closure; the corpus streams once through one Arrow map
that computes a numpy matmul per candidate group (all rows, a bucket or
a cell) and emits each query's per-batch top-k; ``_rank`` reduces those
to the global top-k. The corpus is never shuffled.

The pairwise paths (``lsh_near_dup_pairs``, the embedding linker scorer,
the ``embedding_near_dup`` gate) score in Catalyst: ``_dot``/``cosine``
over ``unit_vectors``, in double precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_long
from ..session import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity; NULL when either vector has zero norm (a plain
    divide would throw DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    the moment one all-zero embedding — an embedding-service failure
    row — reaches the operator). Consumers treat NULL as 'never
    matches': threshold predicates reject it and the top-k operators
    filter it before ranking.

    PAIRWISE HOT PATHS MUST NOT USE THIS: it evaluates three interpreted
    aggregates (dot + two norms) per PAIR, and a filter on the resulting
    column gets pushdown-substituted so the whole expression runs TWICE
    per pair (the r4 brute_force_topk regression, found by the r5 quiet
    re-bench). Normalize each side once with :func:`unit_vectors` and
    score with a single ``_dot`` instead — per-pair cost drops from
    3(×2) aggregates to 1."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def unit_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its unit-normalized (double) form, ONE
    norm evaluation per row, dropping zero-norm rows (NULL-cosine
    semantics: they never match anything, so no consumer loses a row it
    would have kept).

    The division lambda must reference the norm as a real COLUMN: the
    plain ``withColumn(nrm) -> transform(x / col(nrm))`` shape gets
    collapsed by CollapseProject — it inlines a once-referenced alias
    into the lambda body, and interpreted higher-order functions have no
    CSE, so the whole norm aggregate re-ran PER ELEMENT (O(d²) per row;
    the r8 plan audit caught the inlined
    ``transform(v, x / SQRT(aggregate(v, ...)))`` in every ANN/IVF
    plan). Wrapping the transform in ``when(nrm > 0, ...)`` makes the
    alias referenced TWICE in the consuming projection, which
    CollapseProject refuses to inline (alwaysInline=false default), so
    the norm stays a per-row column; the ``when`` itself is vacuous
    under the ``nrm > 0`` filter (identical rows out, measured 3.4x
    faster on a 16k-row normalize-and-consume microbench)."""
    nrm = "_nrm"
    while nrm in df.columns:  # never clobber a caller's column
        nrm += "_"
    normed = df.withColumn(nrm, _norm(F.col(vec_col))).filter(F.col(nrm) > 0)
    unit = F.when(
        F.col(nrm) > 0,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col(nrm)),
    )
    return normed.withColumn(vec_col, unit).drop(nrm)


def _round_half_up(x, decimals: int = 4):
    """Spark/DuckDB ``round()``: HALF_UP, away from zero. ``np.round``
    is half-even and would flip the 4th decimal on .xxxx5 boundaries;
    ``+ 0.0`` folds -0.0 into +0.0."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * scale + 0.5) / scale, x) + 0.0


def _unit_rows(vecs):
    """-> (keep mask, unit rows): drops NULL and zero-norm vectors, which
    never match (their cosine is NULL), and normalizes the rest."""
    import numpy as np

    keep = np.array([v is not None for v in vecs], dtype=bool)
    if not keep.any():
        return keep, np.empty((0, 0))
    m = np.array([v for v in vecs if v is not None], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    keep[keep] = norms > 0
    return keep, m[norms > 0] / norms[norms > 0, None]


def _rank(local: DataFrame, k: int) -> DataFrame:
    """Global top-k per query on (sim desc, nid asc): the one ranking
    tail of every search."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _search(
    corpus: DataFrame,
    q_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    group_col: str | None = None,
    merge: bool = False,
) -> DataFrame:
    """-> (qid, nid, sim, rank): the top-k scorer shared by every search.

    ``q_rows`` are the collected queries: (qid, vector) rows, or (qid,
    vector, groups) when ``group_col`` names the corpus column whose
    value must be in a query's ``groups`` for the pair to be scored (a
    bucket, a cell). One Arrow map streams the corpus: per Arrow
    batch and group, ``rows @ queries.T``, self rows (nid == qid) masked
    out before the cut, sims rounded HALF_UP to 4 places, and each query
    row's top-k kept on (sim desc, nid asc), the order ``_rank`` uses, so
    the local cut never drops a global winner.

    Every (query row, corpus row) pair is its own candidate unless
    ``merge``: then the max sim per (qid, nid) is kept, and the local cut
    widens by the batch's repeated ids so k distinct ids survive it.
    """
    import numpy as np
    import pandas as pd

    keep, q_mat = _unit_rows([r[1] for r in q_rows])
    q_rows = [r for r, kp in zip(q_rows, keep) if kp]
    q_list = [r[0] for r in q_rows]
    q_ids = np.array(q_list)
    groups: dict = {}
    for j, r in enumerate(q_rows):
        for g in r[2] if group_col else (None,):
            groups.setdefault(g, []).append(j)
    groups = {g: np.array(js) for g, js in groups.items()}

    def score(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        for pdf in batches:
            valid, rows = _unit_rows(list(pdf[vec_col]))
            nids = pdf[id_col].to_numpy()[valid]
            if group_col is None:
                parts = [(np.arange(len(nids)), groups.get(None))]
            else:
                keys = pdf[group_col].to_numpy()[valid]
                parts = [(pos, groups.get(g))
                         for g, pos in pd.Series(keys).groupby(keys).indices.items()]
            out_q, out_n, out_s = [], [], []
            for pos, js in parts:
                if js is None or len(pos) == 0:
                    continue
                ids = nids[pos]
                sims = _round_half_up(rows[pos] @ q_mat[js].T)  # [rows, queries]
                sims[ids[:, None] == q_ids[js][None, :]] = -np.inf
                n = len(ids)
                cut = min(n, k + (n - len(np.unique(ids)) if merge else 0))
                thr = np.partition(sims, n - cut, axis=0)[n - cut]
                for c, j in enumerate(js):
                    col = sims[:, c]
                    cand = np.flatnonzero((col >= thr[c]) & (col > -np.inf))
                    for i in sorted(cand, key=lambda i: (-col[i], ids[i]))[:cut]:
                        out_q.append(q_list[j])
                        out_n.append(ids[i])
                        out_s.append(float(col[i]))
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "sim": out_s})

    id_type = corpus.schema[id_col].dataType.simpleString()
    cols = [id_col, vec_col] + ([group_col] if group_col else [])
    local = corpus.select(*cols).mapInPandas(
        score, f"qid {id_type}, nid {id_type}, sim double"
    )
    if merge:  # hash-partitioned on qid, the merge and _rank share one exchange
        local = (local.repartition("qid").groupBy("qid", "nid")
                 .agg(F.max("sim").alias("sim")))
    return _rank(local, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (qid, nid, sim, rank): exact top-k cosine neighbors per query.

    Self-matches are excluded, NULL and zero-norm vectors never match on
    either side, ties break on the neighbor id, and a corpus row is
    scored once per query row. Eager action: one ``collect`` of the
    (small by contract) query set; every query scores every corpus row
    (``_search``), and only each batch's per-query top-k is shuffled.
    """
    return _search(corpus, queries.select(id_col, vec_col).collect(), k,
                   id_col, vec_col)


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
    probe_dim: bool = True,
) -> DataFrame:
    """-> (vec_id, *keep, bucket): sign pattern against n_planes
    pseudo-random hyperplanes. Planes are derived deterministically from
    (seed, plane, dim) via a portable integer mix of md5 — no
    driver-side randomness, so the same bucketing falls out on any
    cluster size. ``keep`` carries extra columns (e.g. the vector)
    through the SAME projection so callers never need to join this
    output back to its own input — Spark re-executes the upstream for a
    self-join's second alias (measured), so that join shape doubles the
    scan.

    ``probe_dim`` (default on, r8): the plane weights are ROW-
    INDEPENDENT — md5 of (seed, plane, dim-index) — yet the expression
    formulation recomputed n_planes × dim interpreted md5+conv chains
    for EVERY row (HOFs never codegen). One ``limit(1)`` probe of the
    vector width lets the weights become plan-time LITERAL arrays
    (computed driver-side with hashlib — bit-identical to the Catalyst
    md5 family), cutting the per-row work to the unavoidable
    multiply-add; a row wider than the probed dim falls back per
    element to the original md5 expression (``try_element_at`` miss),
    so mixed-width corpora keep exact v1 buckets. Measured 1.1s ->
    0.25s on the sf0.1 corpus bucketing (noop sink, min-of-4).
    ``False`` keeps the pure-lazy expression (no probe action).
    """
    dim = _probe_width(vectors, vec_col) if probe_dim else None
    return _lsh_buckets(vectors, dim, n_planes, id_col, vec_col, keep, seed)


def _probe_width(vectors: DataFrame, vec_col: str) -> int | None:
    """Width of the first row's vector (one ``limit(1)`` action), or
    None when it is NULL or empty."""
    row = vectors.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if row and row[0]["d"] is not None and row[0]["d"] > 0:
        return int(row[0]["d"])
    return None


def _lsh_buckets(vectors, dim_probe, n_planes, id_col, vec_col, keep, seed=42):
    """``hyperplane_lsh_buckets`` with the probed width given: literal
    plane weights for the first ``dim_probe`` elements, or the pure
    expression when it is None. Any width gives the same buckets."""

    def md5_weight(p, i):
        # the exact Catalyst family: first 8 md5-hex chars as long,
        # % 2001 - 1000, scaled — p/i may be ints or int columns
        return (
            md5_long(F.concat_ws("#", F.lit(seed), p, i)) % 2001 - 1000
        ).cast("double") / 1000.0

    if dim_probe is not None:
        from hashlib import md5 as _pymd5

        def lit_weight(p: int, i: int) -> float:
            h = int(
                _pymd5(f"{seed}#{p}#{i}".encode("utf-8")).hexdigest()[:8], 16
            )
            return (h % 2001 - 1000) / 1000.0

        def plane_dot(p: int):
            lits = F.array(
                *[F.lit(lit_weight(p, i)) for i in range(dim_probe)]
            )
            return F.aggregate(
                F.transform(
                    F.col(vec_col),
                    lambda x, i: x.cast("double")
                    * F.coalesce(
                        F.try_element_at(lits, i + 1),
                        md5_weight(F.lit(p), i),
                    ),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        planes = F.array(*[plane_dot(p) for p in range(n_planes)])
    else:
        dim = F.size(F.col(vec_col))
        planes = F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.sequence(F.lit(0), dim - 1),
                    lambda x, i: x.cast("double") * md5_weight(p, i),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    bucket = F.array_join(
        F.transform(planes, lambda d: F.when(d >= 0, "1").otherwise("0")), ""
    )
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in keep],
        bucket.alias("bucket"),
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 6,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """-> (vec_a, vec_b, sim): embedding-cosine near-dup pairs on an
    UNLABELED corpus — the scale pattern `embedding_near_dup`'s
    docstring promises (label block -> LSH bucket). Every vector
    explodes to its Hamming-radius probe codes; candidate pairs form
    inside probe buckets (two vectors meet iff their fingerprints are
    within 2·max_hamming bits — within max_hamming they share a middle
    code with certainty), then the exact cosine verifies. Candidate
    volume is bucket-bound, never all-pairs. ``max_bucket`` defaults
    OFF: probe codes span only 2^n_planes values (64 at the default),
    so bucket sizes grow ~N/keyspace with the corpus — a fixed cap
    would eventually drop every bucket and silently zero the output.
    Set it explicitly (with an ``observation`` counting drops, see
    ``dedup.minhash_lsh_pairs``) only for true identical-vector
    clusters, or raise n_planes so buckets stay small.
    """
    from ..operators.dedup import _bucket_pair_rows

    b = hyperplane_lsh_buckets(vectors, n_planes, id_col=id_col, vec_col=vec_col)
    probes = b.select(
        "vec_id",
        F.explode(_probe_buckets(F.col("bucket"), n_planes, max_hamming)).alias("code"),
    )
    cand = (
        _bucket_pair_rows(probes, ("code",), "vec_id", cap=max_bucket,
                          observation=observation)
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"))
        .distinct()
    )
    # unit-normalize each side once; the threshold stays on the RAW dot
    # (oracle semantics), which costs a second _dot evaluation in the
    # pushed-down predicate — still 3x cheaper per pair than the old
    # cosine shape (3 aggregates, also double-evaluated)
    va = unit_vectors(
        vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea")),
        "ea",
    )
    vb = unit_vectors(
        vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb")),
        "eb",
    )
    sim = _dot(F.col("ea"), F.col("eb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .filter(sim >= threshold)
        .select("vec_a", "vec_b", F.round(sim, 4).alias("sim"))
    )


def ivf_assignments(
    vectors: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
):
    """IVF coarse quantizer: k-means cells over the corpus.

    Returns (assignments df with `cell`, centroids list). The centroid
    model is tiny and broadcast to score queries; training uses MLlib
    KMeans with a fixed seed so the index is reproducible.

    ``fit_fraction``: fit the quantizer on a DETERMINISTIC sample of
    the corpus (md5-hash keep decisions keyed on the row id — the same
    bit-stable-at-any-cluster-size discipline as
    ``sample_stratified``, never ``sample()``'s layout-dependent rng),
    then assign ALL rows to the sampled centroids. K-means cell
    centers converge on a fraction of the data (they estimate a
    density, not per-row facts), so this cuts the fit's cost —
    KMeans's per-iteration full-corpus pass — by ~1/fit_fraction while
    recall stays at parity (pinned in tests). The 100 TB shape: the
    fit should NEVER scan the full corpus 20 times; assignment
    (one pass) is the only full-corpus stage. Note the SAMPLE is
    bit-stable across layouts but the centroids still inherit MLlib
    k-means||'s layout-sensitive init (true of the full fit as well) —
    reproducibility of a served index comes from persisting it
    (``save_ivf_index``), not from refitting.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.hashing import md5_long

    # a NULL or all-zero vector never matches (cosine NULL) and would
    # fail the k-means fit (NULL) or pull a centroid to the origin
    feat = vectors.filter(F.exists(vec_col, lambda x: x != 0)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    train = feat
    if fit_fraction is not None:
        if not 0.0 < fit_fraction <= 1.0:
            raise ValueError(f"fit_fraction {fit_fraction} outside (0, 1]")
        h = (
            md5_long(
                F.concat_ws(
                    "#", F.lit(f"ivf#{seed}"), F.col("vec_id").cast("string")
                )
            )
            % 1000000
        )
        train = feat.filter(h < F.lit(int(round(fit_fraction * 1000000))))
        # fail fast with a clear message instead of an opaque MLlib
        # error when the sample is too thin to carry k centroids (the
        # cap+1 LIMIT bounds the check to one cheap early-stop scan)
        n_train = len(train.select("vec_id").limit(n_cells).collect())
        if n_train < n_cells:
            raise ValueError(
                f"fit_fraction={fit_fraction} sampled only {n_train} "
                f"rows (< n_cells={n_cells}) — raise fit_fraction or "
                "drop fit_fraction for a full fit"
            )
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(train)
    assigned = model.transform(feat).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a prebuilt IVF index (``ivf_assignments`` output). The
    index is built ONCE and amortized over many query waves — the
    assignments table persists like any table (TableIO/Iceberg), the
    centroid list is a tiny JSON-able model. Candidates come only from
    each query's n_probe nearest cells.

    Eager action: one ``collect`` of the (small by contract) query set.
    Each query's cells are picked on the driver from its raw vector: a
    stable argsort of the squared L2 distances to the centroids, so ties
    go to the lower cell index and the plan stays constant-size in
    n_cells. Each corpus row is scored against the queries probing its
    cell (``_search``); a row owns one cell and a query's probe cells are
    distinct, so every (query row, corpus row) pair is scored at most
    once and the ranking window is the plan's only exchange."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    q_rows = []
    for qid, vec in queries.select(id_col, vec_col).collect():
        if vec is not None:
            d = ((cmat - np.asarray(vec, dtype=np.float64)) ** 2).sum(axis=1)
            q_rows.append((qid, vec, np.argsort(d, kind="stable")[:n_probe].tolist()))
    return _search(assigned, q_rows, k, "vec_id", "embedding", group_col="cell")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF ANN: candidates come only from the query's n_probe nearest
    cells — the scale path when brute force is too wide. Recall improves
    with n_probe (n_probe = n_cells degenerates to exact search over a
    partitioned corpus). Convenience wrapper: builds the index and
    searches it once; long-lived corpora should build with
    ``ivf_assignments`` and reuse via ``ivf_search``.
    ``fit_fraction`` passes through to the quantizer fit (deterministic
    sampled k-means — see :func:`ivf_assignments`)."""
    assigned, centroids = ivf_assignments(
        corpus, n_cells, id_col=id_col, vec_col=vec_col,
        fit_fraction=fit_fraction,
    )
    return ivf_search(assigned, centroids, queries, k, n_probe, id_col, vec_col)


def save_ivf_index(io, assigned: DataFrame, centroids: list,
                   name: str = "ivf") -> None:
    """Persist a built IVF index through the TableIO facade (Iceberg or
    parquet+manifest): assignments as `<name>_assignments`, the tiny
    centroid model as `<name>_centroids` rows (cell, embedding). The
    build-once/search-many split then spans JOBS, not just one session.
    """
    spark = assigned.sparkSession
    io.write(assigned, f"{name}_assignments")
    cent_df = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, embedding array<double>",
    )
    io.write(cent_df, f"{name}_centroids")


def load_ivf_index(io, name: str = "ivf"):
    """-> (assigned, centroids) ready for ``ivf_search``."""
    assigned = io.read(f"{name}_assignments")
    rows = io.read(f"{name}_centroids").collect()  # tiny by contract
    centroids = [list(map(float, r["embedding"]))
                 for r in sorted(rows, key=lambda r: r["cell"])]
    return assigned, centroids


def _probe_buckets(bucket_col, n_planes: int, max_hamming: int):
    """Array of bucket codes within Hamming distance ``max_hamming`` of
    the query's code (multiprobe LSH: instead of many hash tables, one
    table probed at the nearest few codes — Lv et al., VLDB'07). The
    flip masks are enumerated at plan time (combinatorial in
    ``max_hamming``, tiny for d ≤ 2) and applied JVM-side."""
    from itertools import combinations

    def flip(positions):
        out = bucket_col
        for p in positions:
            ch = F.substring(out, p + 1, 1)
            flipped = F.when(ch == "1", "0").otherwise("1")
            out = F.concat(
                F.substring(out, 1, p),
                flipped,
                F.substring(out, p + 2, n_planes - p - 1),
            )
        return out

    probes = [bucket_col]
    for d in range(1, max_hamming + 1):
        probes.extend(flip(c) for c in combinations(range(n_planes), d))
    return F.array(*probes)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int = 6,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multiprobe hyperplane LSH: the corpus is
    bucketed ONCE; each (small) query probes every bucket within
    ``max_hamming`` bit flips of its own code. Recall rises steeply with
    the probe radius while the corpus-side cost stays a single bucketing
    pass — the scale path when brute force is too wide.
    ``max_hamming=0`` is the classic single-bucket probe.

    Eager actions: one width probe of the corpus, whose width both sides
    bucket with, and one ``collect`` of the (small by contract) query
    set with its probe codes. Each corpus row is scored against the
    queries probing its bucket (``_search``); a (qid, nid) pair that
    repeats through a duplicated id keeps its max sim."""
    dim = _probe_width(corpus, vec_col)
    c = _lsh_buckets(corpus, dim, n_planes, id_col, vec_col, (vec_col,))
    q = _lsh_buckets(
        queries, dim, n_planes, id_col, vec_col, (vec_col,)
    ).select("vec_id", vec_col, _probe_buckets(F.col("bucket"), n_planes, max_hamming))
    return _search(c, q.collect(), k, "vec_id", vec_col, group_col="bucket",
                   merge=True)
