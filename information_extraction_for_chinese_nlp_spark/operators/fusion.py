"""Triple-level knowledge fusion for KG construction.

The extraction pipeline emits one (subj, pred, obj, prob) assertion per
MENTION; a knowledge graph wants one edge per FACT with a confidence
that grows with independent supporting evidence. ``fuse_triples``
collapses repeated assertions with the classic noisy-or combiner
(Knowledge Vault-style fusion: P(fact) = 1 - prod(1 - p_i) under
independent extractors/mentions), plus the provenance aggregates a
downstream consumer filters on (mention count, distinct-source count,
strongest single mention, earliest source).

The reference repo stops at per-mention triples (its `run_infer.py`
writes raw Taskflow results); fusion is the beyond-reference KG step,
built from public fusion literature only.

Scale shape: ONE shuffle on the triple key; every aggregate is
map-side combinable (sum/count/min/max — count distinct is Spark's
two-phase partial aggregation). A hot fact (millions of identical
mentions) partial-aggregates before the exchange, so skew in fact
popularity does not skew the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def log_miss_expr(prob_col: str, eps: float = 1e-12) -> Column:
    """Per-mention noisy-or contribution ln(max(eps, 1 - p)) — the
    combinable-SUM form of the (1 - p) product. Shared by the batch
    operator and the streaming partials so the two faces cannot drift."""
    return F.log(F.greatest(F.lit(eps), F.lit(1.0) - F.col(prob_col)))


def fused_prob_expr(log_miss_col: str, max_prob_col: str) -> Column:
    """Finalize summed log-miss into the fused confidence, clamped to
    the strongest single mention (the eps guard can otherwise undercut
    it). Shared by the batch operator and the streaming finalizer."""
    return F.greatest(
        F.lit(1.0) - F.exp(F.col(log_miss_col)), F.col(max_prob_col)
    )


def _seen_range(ts_col: str | None) -> list[Column]:
    """first_seen/last_seen, a fact's min/max mention time over
    ``ts_col`` (none without it)."""
    if ts_col is None:
        return []
    return [F.min(ts_col).alias("first_seen"), F.max(ts_col).alias("last_seen")]


def fusion_partials(
    mentions: DataFrame,
    keys,
    prob_col: str = "prob",
    eps: float = 1e-12,
    ts_col: str | None = None,
) -> DataFrame:
    """Combinable noisy-or partials per ``keys`` over the supported
    (non-NULL probability) mentions: ``_log_miss``, ``n_mentions``,
    ``max_prob``, plus ``first_seen``/``last_seen`` when ``ts_col`` is
    given. The state rows of the streaming faces, merged by
    :func:`partial_merge_aggs` and finalized by :func:`finalize_fusion`
    (the batch operator folds all three into its one shuffle)."""
    return (
        mentions.filter(F.col(prob_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.sum(log_miss_expr(prob_col, eps)).alias("_log_miss"),
            F.count("*").alias("n_mentions"),
            F.max(prob_col).alias("max_prob"),
            *_seen_range(ts_col),
        )
    )


def partial_merge_aggs(temporal: bool = False) -> list[Column]:
    """Aggregates merging :func:`fusion_partials` rows (sum/sum/max, and
    min/max of the temporal envelope): associative, so the merge order
    — and a replayed batch — cannot change the result."""
    return [
        F.sum("_log_miss").alias("_log_miss"),
        F.sum("n_mentions").alias("n_mentions"),
        F.max("max_prob").alias("max_prob"),
        *(
            [F.min("first_seen").alias("first_seen"),
             F.max("last_seen").alias("last_seen")]
            if temporal
            else []
        ),
    ]


def finalize_fusion(
    partials: DataFrame,
    fact,
    doc_col: str = "doc_id",
    temporal: bool = False,
) -> DataFrame:
    """Per-(fact, doc) partials -> one row per ``fact`` with the batch
    operator's columns (fused_prob, n_mentions, n_docs, max_prob,
    first_doc[, first_seen, last_seen]).

    ``n_docs`` is count(doc_col), not count(*): the partials hold one
    row per (fact, doc) INCLUDING a possible NULL-doc group, and the
    batch face's countDistinct(doc_col) ignores NULLs — a count(*) here
    would read NULL-doc mentions as one extra source and break
    batch/stream parity by one (ADVICE r7)."""
    return (
        partials.groupBy(*fact)
        .agg(
            *partial_merge_aggs(temporal),
            F.count(doc_col).alias("n_docs"),
            F.min(doc_col).alias("first_doc"),
        )
        .select(
            *fact,
            fused_prob_expr("_log_miss", "max_prob").alias("fused_prob"),
            "n_mentions",
            "n_docs",
            "max_prob",
            "first_doc",
            *(["first_seen", "last_seen"] if temporal else []),
        )
    )


def fuse_triples(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    prob_col: str = "prob",
    doc_col: str = "doc_id",
    eps: float = 1e-12,
    ts_col: str | None = None,
) -> DataFrame:
    """-> one row per (subj, pred, obj):

    - ``fused_prob``: noisy-or 1 - prod(1 - p_i), computed as
      ``1 - exp(sum(ln(max(eps, 1 - p))))`` so it stays a combinable
      SUM instead of a non-associative product fold; ``eps`` guards
      ln(0) when a mention arrives with p = 1.0, and the result is
      clamped to ``max_prob`` from below so the eps clamp can never
      push it under the strongest single mention.
    - ``n_mentions`` / ``n_docs``: total and distinct-source support.
    - ``max_prob``: strongest single mention (noisy-or is monotone in
      every input, so fused_prob >= max_prob exactly — a sanity
      invariant tests pin).
    - ``first_doc``: smallest source id, a deterministic provenance
      anchor.

    NULL-probability mentions are EXCLUDED before aggregation (from
    fused_prob AND the support counts): the scorer's tokenizer-crash
    quarantine emits sentinel rows with NULL probability, and
    ``greatest(eps, 1 - NULL)`` would otherwise read each one as
    near-certain evidence (ln(eps) drives the product to ~0, fusing
    the fact to ~1.0). A fact whose every mention is NULL vanishes
    from the output entirely.

    ``ts_col``: optional mention-timestamp column; when given the
    output carries temporal scoping columns ``first_seen`` /
    ``last_seen`` (min/max mention time — the fact's observed validity
    envelope). Both are combinable min/max riding the same single
    shuffle; no extra pass.
    """
    supported = triples.filter(F.col(prob_col).isNotNull())
    agg = supported.groupBy(subj_col, pred_col, obj_col).agg(
        F.sum(log_miss_expr(prob_col, eps)).alias("_log_miss"),
        F.count("*").alias("n_mentions"),
        F.countDistinct(doc_col).alias("n_docs"),
        F.max(prob_col).alias("max_prob"),
        F.min(doc_col).alias("first_doc"),
        *_seen_range(ts_col),
    )
    return agg.select(
        subj_col,
        pred_col,
        obj_col,
        fused_prob_expr("_log_miss", "max_prob").alias("fused_prob"),
        "n_mentions",
        "n_docs",
        "max_prob",
        "first_doc",
        *(["first_seen", "last_seen"] if ts_col is not None else []),
    )


def top_k_objects(
    fused: DataFrame,
    k: int = 3,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    score_col: str = "fused_prob",
) -> DataFrame:
    """Top-k candidate objects per (subj, pred) by fused confidence —
    the slot-filling view of the fused graph (e.g. the k best values
    for 醫療費用 per case). Deterministic: ties break on the object
    value itself, so reruns and retries rank identically.

    Scale shape: one window over the already-fused (small-per-key)
    table; the rank prunes before any downstream join.
    """
    w = Window.partitionBy(subj_col, pred_col).orderBy(
        F.col(score_col).desc(), F.col(obj_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def resolve_functional(
    fused: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    score_col: str = "fused_prob",
    docs_col: str = "n_docs",
    mentions_col: str = "n_mentions",
    strategy: str = "confidence",
    ts_col: str = "last_seen",
) -> DataFrame:
    """Conflict resolution for FUNCTIONAL predicates (at most one true
    object per subject — a case has one 醫療費用 total, a person one
    birth date): one row per (subj, pred) choosing the best-supported
    object, with the diagnostics a curator needs to audit the choice.

    Ordering is total and deterministic: fused confidence, then
    distinct-source support, then mention count, then the object value
    itself — reruns, retries, and shuffled inputs all pick the same
    winner.

    ``strategy='recency'`` prepends most-recent-assertion-wins
    (``ts_col`` descending, from ``fuse_triples(ts_col=...)``'s
    last_seen) ahead of the confidence chain — the right rule for
    MUTABLE functional predicates (an address, a case status), where a
    newer assertion supersedes a better-supported stale one; the
    confidence chain still breaks same-timestamp ties. NOTE the margin
    sign under recency: margin is winner score minus the
    next-most-RECENT candidate's score, so a NEGATIVE margin flags the
    stale-but-stronger-runner-up case (the newest assertion won on
    time despite lower confidence) — the rows a curator should review
    first, not an anomaly.

    Output per (subj, pred): ``obj`` (the winner), its ``fused_prob``
    / ``n_docs`` / ``n_mentions``, ``n_candidates`` (how many objects
    competed), and ``margin`` (winner's score minus runner-up's; NULL
    when uncontested). A margin near 0 flags a genuinely ambiguous
    slot; a large one a safe resolution.

    Scale shape: one window over the already-fused table (orders of
    magnitude smaller than the mention stream); no join — the
    runner-up score arrives via ``lead`` over the same window and the
    candidate count via a partition-bounded window count.
    """
    if strategy not in ("confidence", "recency"):
        raise ValueError(
            f"strategy must be 'confidence' or 'recency', got {strategy!r}"
        )
    order = [
        F.col(score_col).desc(),
        F.col(docs_col).desc(),
        F.col(mentions_col).desc(),
        F.col(obj_col).asc(),
    ]
    if strategy == "recency":
        # nulls_last: a fact with no timestamped support never beats a
        # dated assertion
        order = [F.col(ts_col).desc_nulls_last()] + order
    w = Window.partitionBy(subj_col, pred_col).orderBy(*order)
    wall = Window.partitionBy(subj_col, pred_col)
    return (
        fused.withColumn("_rn", F.row_number().over(w))
        .withColumn("_next", F.lead(score_col).over(w))
        .withColumn("n_candidates", F.count("*").over(wall).cast("long"))
        .filter(F.col("_rn") == 1)
        .select(
            subj_col,
            pred_col,
            obj_col,
            score_col,
            docs_col,
            mentions_col,
            *([ts_col] if strategy == "recency" else []),
            "n_candidates",
            (F.col(score_col) - F.col("_next")).alias("margin"),
        )
    )


def entity_salience(
    fused: DataFrame,
    entity_col: str = "obj",
    subj_col: str = "subj",
    pred_col: str = "pred",
    score_col: str = "fused_prob",
    mentions_col: str = "n_mentions",
) -> DataFrame:
    """Per-entity importance over the fused graph — the KG analog of
    degree centrality, used to rank entities for review/linking budget:
    ``n_facts`` (edges touching the entity), ``n_subjects`` /
    ``n_preds`` (distinct neighbors and relation types), ``support``
    (sum of fused confidences — weighted degree), ``total_mentions``.

    Runs on the FUSED table, not the mention stream, so a
    billion-mention hot entity costs one input row per fact here; one
    map-side-combinable shuffle on the entity key.
    """
    return fused.groupBy(entity_col).agg(
        F.count("*").alias("n_facts"),
        F.countDistinct(subj_col).alias("n_subjects"),
        F.countDistinct(pred_col).alias("n_preds"),
        F.sum(score_col).alias("support"),
        F.sum(mentions_col).alias("total_mentions"),
    )


def validate_facts(
    fused: DataFrame,
    constraints: DataFrame,
    pred_col: str = "pred",
    obj_col: str = "obj",
    score_col: str = "fused_prob",
    docs_col: str = "n_docs",
) -> DataFrame:
    """Ontology/constraint validation over the fused graph — the KG
    analog of the extraction pipeline's validity-predicate quarantine
    (P6): every fact gets a ``status`` so violations route to review
    instead of silently entering the graph.

    ``constraints``: one row per predicate — ``pred``, ``obj_pattern``
    (a regex the WHOLE object must match; NULL = any), ``min_prob`` /
    ``min_docs`` (support floors; NULL = none). Checks run in a fixed
    order and the FIRST failure names the status:

    - ``unknown_pred`` — predicate absent from the constraint table
      (schema-drift detector: a new relation type surfacing in the
      stream);
    - ``bad_object`` — object fails the pattern;
    - ``low_conf`` / ``low_support`` — fused confidence or
      distinct-source support under the floor;
    - ``ok`` otherwise.

    Scale shape: the constraint table is ontology-sized (hundreds of
    predicates, not data-sized) — broadcast hash join on the predicate
    key, zero shuffle of the fact table.
    """
    c = F.broadcast(
        constraints.select(
            F.col("pred").alias(pred_col),
            "obj_pattern",
            "min_prob",
            "min_docs",
            F.lit(True).alias("_known"),
        )
    )
    joined = fused.join(c, on=pred_col, how="left")
    status = (
        F.when(F.col("_known").isNull(), "unknown_pred")
        .when(
            # NULL-safe: a NULL object can match no pattern, and a bare
            # ~regexp_like(NULL, ...) is NULL — the branch would be
            # silently skipped and the fact would validate as 'ok'
            F.col("obj_pattern").isNotNull()
            & ~F.coalesce(
                F.regexp_like(
                    F.col(obj_col).cast("string"),
                    F.concat(
                        F.lit("^(?:"), F.col("obj_pattern"), F.lit(")$")
                    ),
                ),
                F.lit(False),
            ),
            "bad_object",
        )
        .when(
            F.col("min_prob").isNotNull()
            & (F.col(score_col) < F.col("min_prob")),
            "low_conf",
        )
        .when(
            F.col("min_docs").isNotNull()
            & (F.col(docs_col) < F.col("min_docs")),
            "low_support",
        )
        .otherwise("ok")
    )
    return joined.withColumn("status", status).drop(
        "obj_pattern", "min_prob", "min_docs", "_known"
    )


def kg_diff(
    old: DataFrame,
    new: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    score_col: str = "fused_prob",
    tol: float = 0.0,
) -> DataFrame:
    """Delta between two fused snapshots — what an incremental KG build
    changed: one row per fact present in either side with ``change`` in
    (``added``, ``removed``, ``changed``) plus both scores; facts whose
    score moved by at most ``tol`` are dropped (the uninteresting
    steady state, normally the overwhelming majority).

    Scale shape: one full outer join on the fact key (both sides are
    FUSED tables — orders smaller than mention streams); the
    steady-state filter prunes before anything downstream."""
    keys = [subj_col, pred_col, obj_col]
    # presence travels as explicit flags, NOT score NULL-ness:
    # fuse_triples output always carries a non-null score, but this
    # function accepts arbitrary snapshots, and a fact present on both
    # sides with a NULL score must not masquerade as added/removed
    # (ADVICE r7). A NULL score on a both-sides fact compares as
    # steady state (abs(NULL - x) is NULL -> filtered).
    o = old.select(
        *keys, F.col(score_col).alias("_old"), F.lit(True).alias("_in_old")
    )
    n = new.select(
        *keys, F.col(score_col).alias("_new"), F.lit(True).alias("_in_new")
    )
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(F.abs(F.col("_new") - F.col("_old")) > tol, "changed")
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *keys,
            "change",
            F.col("_old").alias("old_prob"),
            F.col("_new").alias("new_prob"),
        )
    )
