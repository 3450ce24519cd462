"""Graph materialization: extraction edges -> canonical vertex + edge
tables (the reference's D6 wide result table, re-expressed as a KG;
SURVEY.md §1 D6, north_star tail).

Canonicalization layers:
1. value normalization (F4): surface forms with the same normalized
   money value and predicate collapse ("98,532元" == "98532元" == 98532);
2. similarity linking for non-normalizable surfaces: char-bigram
   Jaccard pairs from MinHash-LSH banded buckets (exact-verified,
   never all-pairs), closed under connected components (min-label
   propagation);
3. vertex identity = md5(pred # canonical key); canonical_text = the
   most frequent surface form (max_by count, tie-break lexicographic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import normalize_money_udf
from ..operators.components import connected_components
from ..operators.linking import char_ngrams, jaccard


def normalize_objects(edges: DataFrame) -> DataFrame:
    """Add obj_norm (normalized value or 'nan') and the entity key."""
    normed = edges.withColumn("obj_norm", normalize_money_udf(F.col("obj")))
    key = F.when(
        F.col("obj_norm") != "nan", F.concat_ws("#", "pred", "obj_norm")
    ).otherwise(F.concat_ws("#", "pred", F.lit("raw"), "obj"))
    return normed.withColumn("entity_key", key)


# the linker's banding budget — read only by banded_surfaces, which the
# batch linker and streaming/stream.stream_build_kg share, so the two
# faces generate identical candidate sets (same discipline as fusion's
# log_miss_expr)
LINK_N_BANDS, LINK_ROWS_PER_BAND = 8, 1


def banded_surfaces(surfaces: DataFrame) -> DataFrame:
    """(pred, obj, entity_key) raw surfaces -> (pred, entity_key, grams,
    band_id, band): one row per linker band of each surface with a
    non-empty char-bigram set. The one banding projection of the batch
    linker (``raw_match_pairs``) and the streaming one
    (``streaming.stream.stream_build_kg``), so a change to the seed
    string, band count or join format lands on both at once.

    The band signature is ONE array expression (per-seed ``array_min``
    over md5'd grams, each band's rows joined with '|'): no explode of
    the grams and no shuffle."""

    def seed_min(s: int):
        return F.array_min(
            F.transform(
                F.col("grams"), lambda g: F.md5(F.concat_ws("#", g, F.lit(s)))
            )
        )

    bands = F.array(
        *[
            F.array_join(
                F.array(
                    *[
                        seed_min(b * LINK_ROWS_PER_BAND + r)
                        for r in range(LINK_ROWS_PER_BAND)
                    ]
                ),
                "|",
            )
            for b in range(LINK_N_BANDS)
        ]
    )
    return (
        surfaces.withColumn("grams", char_ngrams(F.col("obj"), 2))
        .filter(F.size("grams") > 0)
        .select(
            "pred", "entity_key", "grams",
            F.posexplode(bands).alias("band_id", "band"),
        )
    )


def raw_match_pairs(
    normed: DataFrame,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
    observation=None,
) -> DataFrame:
    """Similarity pairs among non-normalizable surfaces — MinHash-LSH
    banded candidate generation, exact-Jaccard verified.

    The pred-blocked self-join this replaces was O(n²) candidates per
    predicate: at scale the nan-surface set is the whole long tail of
    OCR/colloquial junk, and with only 3 predicates "block by pred" is
    barely blocking. Here candidates form only inside (pred, band)
    buckets: each surface's char-bigram set gets a LINK_N_BANDS ×
    LINK_ROWS_PER_BAND MinHash signature computed as a pure PROJECTION
    (:func:`banded_surfaces` — surfaces are short, so no token explode
    and no shuffle), then ONE aggregation chain groups by
    (pred, band_id, band) and expands ordered pairs JVM-side
    (``dedup._bucket_pair_rows`` — a self-join would re-run the upstream
    pipeline for its second alias, measured). Every candidate is
    verified with the exact bigram Jaccard, so precision is identical to
    the quadratic version; recall for a pair at Jaccard s is
    1-(1-s^r)^b (b=8, r=1: ≥0.9993 at s=0.6).

    ``max_bucket`` caps degenerate buckets (e.g. thousands of identical
    junk surfaces) exactly like the dedup operators — default ON,
    ``None`` = explicit opt-out, drops counted via ``observation``
    (see ``dedup.minhash_lsh_pairs``).
    """
    from ..operators.dedup import _bucket_pair_rows

    surfaces = (
        normed.filter(F.col("obj_norm") == "nan")
        .select("pred", "obj", "entity_key")
        .distinct()
    )
    cand = _bucket_pair_rows(
        banded_surfaces(surfaces), ("pred", "band_id", "band"), "entity_key",
        ("grams",), cap=max_bucket, observation=observation,
    ).select(
        F.col("p.doc_a.entity_key").alias("src"),
        F.col("p.doc_b.entity_key").alias("dst"),
        jaccard(F.col("p.doc_a.grams"), F.col("p.doc_b.grams")).alias("sim"),
    )
    return cand.filter(F.col("sim") >= threshold).select("src", "dst").distinct()


def canon_keys(df: DataFrame, labels: DataFrame) -> DataFrame:
    """Add ``canon_key`` = the (node, component) labeling's component of
    ``df``'s entity_key, or the entity_key itself when unlabeled (no
    linker pair touched it)."""
    return df.join(
        labels.withColumnRenamed("node", "entity_key"), on="entity_key", how="left"
    ).withColumn("canon_key", F.coalesce("component", "entity_key"))


def pick_vertices(surface_counts: DataFrame) -> DataFrame:
    """(canon_key, pred, obj, n) surface counts -> one vertex per
    canon_key: (entity_id, canonical_text, type, n_mentions, canon_key).
    The most frequent surface names the vertex (max_by over (n, obj):
    ties break lexicographically), n_mentions sums the support and
    entity_id = md5(canon_key). The one vertex pick of ``build_graph``
    and the streaming snapshot (``streaming.stream.stream_build_kg``),
    so the faces cannot drift."""
    return (
        surface_counts.groupBy("canon_key")
        .agg(
            F.max_by(
                F.struct("obj", "pred"), F.struct(F.col("n"), F.col("obj"))
            ).alias("_best"),
            F.sum("n").alias("n_mentions"),
        )
        .select(
            F.md5("canon_key").alias("entity_id"),
            F.col("_best.obj").alias("canonical_text"),
            F.col("_best.pred").alias("type"),
            "n_mentions",
            "canon_key",
        )
    )


def build_graph(edges: DataFrame, link_threshold: float = 0.6,
                link_max_bucket: int | None = 10_000,
                checkpoint: bool = False):
    """-> (vertices, canonical_edges).

    vertices: (entity_id, canonical_text, type, n_mentions)
    canonical_edges: (subj, pred, entity_id, obj, obj_norm, prob,
                      doc_id, start, end)

    ``link_max_bucket`` caps degenerate linker buckets (thousands of
    identical junk surfaces) — default ON like the dedup caps,
    ``None`` = explicit opt-out.

    ``checkpoint=True`` puts a lazy ``localCheckpoint`` under the
    canonicalized join (the subtree BOTH outputs consume), so a caller
    materializing vertices AND edges — ``build_kg``, or a job writing
    both tables — runs the linker + CC once instead of once per
    output. Default False keeps gate plans pure (same discipline as
    ``dedup_pipeline``).
    """
    normed = normalize_objects(edges)
    if checkpoint:
        # normed is consumed twice (the linker's distinct-surface pass
        # and the canonicalized join) and carries a pandas-UDF column
        # (obj_norm) — without a boundary the ArrowEvalPython
        # normalization runs once per consumer. Same lazy-checkpoint
        # discipline (and the same memory class) as the `keyed`
        # boundary below; gate plans (checkpoint=False) stay pure.
        normed = normed.localCheckpoint(eager=False)

    pairs = raw_match_pairs(normed, link_threshold, max_bucket=link_max_bucket)
    comps = connected_components(pairs, src="src", dst="dst")

    keyed = canon_keys(normed, comps)
    if checkpoint:
        keyed = keyed.localCheckpoint(eager=False)

    surface_counts = keyed.groupBy("canon_key", "pred", "obj").agg(
        F.count("*").alias("n")
    )
    vertices = pick_vertices(surface_counts)

    canonical_edges = keyed.select(
        "subj",
        "pred",
        F.md5("canon_key").alias("entity_id"),
        "obj",
        "obj_norm",
        "prob",
        "doc_id",
        "start",
        "end",
    )
    return vertices.drop("canon_key"), canonical_edges


def build_kg(edges: DataFrame, link_threshold: float = 0.6,
             link_max_bucket: int | None = 10_000,
             checkpoint: bool = True):
    """The full KG-construction tail as ONE composed job:
    extraction edges -> value normalization -> similarity linking ->
    connected-components canonicalization (``build_graph``) ->
    triple-level noisy-or fusion (``operators.fusion.fuse_triples``)
    over the CANONICAL entity ids.

    -> (vertices, fused_edges) where fused_edges has one row per FACT
    (subj, pred, entity_id) with (fused_prob, n_mentions, n_docs,
    max_prob, first_doc, canonical_text): fusing AFTER canonicalization
    is the point — surface variants of the same value ("98,532元",
    "98532元", "九万八千五百三十二元") first collapse into one entity,
    THEN their mentions combine as independent evidence. Fusing raw
    objects would fragment a fact's support across spellings.

    Scale shape: build_graph's banded linker + CC (never all-pairs),
    one extra shuffle on the fact key (map-side combinable aggregates),
    and the canonical_text enrichment joins the already-aggregated
    fact table against the vertex table on entity_id — both post-agg,
    orders smaller than the mention stream. ``checkpoint`` defaults
    True here (both outputs are consumed by construction).
    """
    from ..operators.fusion import fuse_triples

    vertices, canonical = build_graph(
        edges, link_threshold, link_max_bucket, checkpoint=checkpoint
    )
    fused = fuse_triples(
        canonical, subj_col="subj", pred_col="pred",
        obj_col="entity_id", prob_col="prob", doc_col="doc_id",
    )
    fused_edges = fused.join(
        vertices.select("entity_id", "canonical_text"), on="entity_id"
    ).select(
        "subj", "pred", "entity_id", "canonical_text", "fused_prob",
        "n_mentions", "n_docs", "max_prob", "first_doc",
    )
    return vertices, fused_edges
