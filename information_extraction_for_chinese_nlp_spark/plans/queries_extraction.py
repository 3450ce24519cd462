"""IE/KG operator registry entries: mention extraction, money
normalization, entity linking, connected components, and the full
(rows-only) stub pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, register, register_extra

# ---------------------------------------------------------------------------
# F3 — regex mention extraction over documents (term inverted counts).
# ---------------------------------------------------------------------------


@register(
    "term_mentions",
    """
    SELECT doc_id,
           t.term,
           len(regexp_extract_all(text, t.term)) AS n_mentions
    FROM documents
    CROSS JOIN (SELECT unnest(['spark', 'join', 'window']) AS term) t
    """,
)
def term_mentions(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "text",
        F.explode(F.array(F.lit("spark"), F.lit("join"), F.lit("window"))).alias("term"),
    ).select(
        "doc_id",
        "term",
        F.size(F.regexp_extract_all(F.col("text"), F.col("term"), F.lit(0)))
        .cast("long")
        .alias("n_mentions"),
    )


# ---------------------------------------------------------------------------
# Money mention extraction from verdict-style text (the SQL-expressible
# subset of the extraction path: Arabic-digit money with 元 suffix).
# ---------------------------------------------------------------------------

_VERDICT_ROWS = [
    (0, "原告支出醫療費用98,532元，並請求精神慰撫金額80,000元"),
    (1, "被告應給付1,680元及自起訴狀繕本送達翌日起之利息"),
    (2, "每月薪資收入45,000元，年終獎金90,000元"),
    (3, "無任何金額記載"),
    (4, "合計2,954元整 另有10000元部分"),
]

_MONEY_RE = "[0-9][0-9,]*元"


def _verdicts_df(spark):
    return spark.createDataFrame(_VERDICT_ROWS, "vid long, text string")


def _verdicts_values() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in _VERDICT_ROWS)
    return f"(VALUES {rows}) AS v(vid, text)"


@register(
    "money_mentions",
    f"""
    SELECT vid, unnest(regexp_extract_all(text, '{_MONEY_RE}')) AS mention
    FROM {_verdicts_values()}
    """,
)
def money_mentions(spark, sf_dir):
    return _verdicts_df(spark).select(
        "vid",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(_MONEY_RE), F.lit(0))).alias(
            "mention"
        ),
    )


# ---------------------------------------------------------------------------
# F4 — money normalization; the oracle pins golden values (the reference's
# converted outputs, semantics of tools/regularize_money_from_csv_results.py).
# ---------------------------------------------------------------------------

# (raw surface form, hand-computed golden value) — the oracle side is
# INDEPENDENT of normalize_money so a parser regression hash-mismatches
# instead of silently shifting both sides.
_MONEY_GOLDEN = [
    ("98,532元", "98532"), ("1,680元", "1680"), ("10000元", "10000"),
    ("2,954元", "2954"), ("一萬五千元", "15000"), ("八萬元", "80000"),
    ("六百二十五元", "625"), ("八十八元", "88"), ("七百元", "700"),
    ("五萬三千元", "53000"), ("十五元", "15"), ("兩千元", "2000"),
    ("一億二千萬元", "120000000"), ("三百零五元", "305"),
    ("一千零一元", "1001"), ("三千500元", "3500"), ("3千5百元", "3500"),
    ("500萬元", "5000000"), ("1萬2000元", "12000"), ("五萬餘元", "50000"),
    ("1,680.50元", "168050"), ("一万五千元", "15000"), ("伍佰元", "500"),
    # colloquial missing-unit forms (cn2an 'smart' semantics)
    ("兩千五", "2500"), ("五萬三", "53000"), ("一百二", "120"),
    ("一億二", "120000000"), ("兩千零五", "2005"), ("三千50", "3050"),
    ("不明", "nan"), ("nan", "nan"),
]
_MONEY_CASES = [raw for raw, _ in _MONEY_GOLDEN]


def _money_values() -> str:
    rows = ", ".join(f"('{raw}', '{val}')" for raw, val in _MONEY_GOLDEN)
    return f"(VALUES {rows}) AS m(raw, value)"


@register("money_normalize", f"SELECT raw, value FROM {_money_values()}")
def money_normalize_q(spark, sf_dir):
    from ..functions.money import normalize_money_udf

    df = spark.createDataFrame([(r,) for r in _MONEY_CASES], "raw string")
    return df.select("raw", normalize_money_udf(F.col("raw")).alias("value"))


# ---------------------------------------------------------------------------
# P2 — span-preserving regularize (reference utils/json_utils.py:94-159).
# The DuckDB oracle reproduces the rebase INDEPENDENTLY via prefix-length
# arithmetic: new_start = start − (len(text[:start]) − len(scrub(text[:start]))).
# Only the raw fixture rows are shared between the two sides.
# ---------------------------------------------------------------------------

def _p2_doc(*pieces):
    """(text, spans) from labeled pieces: plain strings pass through,
    ('label', 'span text') tuples become gold spans at their position."""
    text, spans = "", []
    for p in pieces:
        if isinstance(p, tuple):
            label, s = p
            spans.append((len(text), len(text) + len(s), s, label))
            text += s
        else:
            text += p
    return text, spans


_P2_DOCS = [
    _p2_doc("原告 支出\n", ("醫療費用", "98,532元"), "　並請求\n",
            ("精神慰撫金額", "80,000元"), " 整"),
    # removable chars INSIDE a span: both boundaries and the span text scrub
    _p2_doc("被告應給付", ("醫療費用", "1,6 80\n元"), "　及利息"),
    # span at offset 0, U+3000 runs, literal backslash-n OUTSIDE spans
    # (P2 keeps it in the document text — reference parity)
    _p2_doc(("薪資收入", "45,000元"), "　　每月\\n另計 獎金\n",
            ("薪資收入", "90,000元")),
    # no spans at all
    _p2_doc("無任何 金額\n記載　"),
]

# one VALUES row per span, span_idx = rank by start (regularize sorts)
_P2_ROWS = [
    (f"p2-{i}", text, spans) for i, (text, spans) in enumerate(_P2_DOCS)
]


def _p2_values() -> str:
    rows = []
    for doc_id, text, spans in _P2_ROWS:
        for idx, (s, e, st, label) in enumerate(sorted(spans)):
            rows.append(f"('{doc_id}', '{text}', {idx}, {s}, {e}, '{st}', '{label}')")
    return ("(VALUES " + ", ".join(rows)
            + ") AS p(doc_id, text, span_idx, s0, e0, span_text0, label)")


_P2_CHARS = "[\n 　]"  # the single-char scrub classes (NOT the literal \\n)


@register(
    "regularize_spans",
    f"""
    SELECT doc_id,
           regexp_replace(text, '{_P2_CHARS}', '', 'g') AS scrubbed,
           CAST(span_idx AS BIGINT) AS span_idx,
           CAST(s0 - (length(text[1:s0]) -
                length(regexp_replace(text[1:s0], '{_P2_CHARS}', '', 'g')))
                AS BIGINT) AS span_start,
           CAST(e0 - (length(text[1:e0]) -
                length(regexp_replace(text[1:e0], '{_P2_CHARS}', '', 'g')))
                AS BIGINT) AS span_end,
           regexp_replace(regexp_replace(span_text0, '{_P2_CHARS}', '', 'g'),
                          '\\\\n', '', 'g') AS span_text,
           label
    FROM {_p2_values()}
    """,
)
def regularize_spans_q(spark, sf_dir):
    from ..functions.text import regularize_udf

    df = spark.createDataFrame(
        _P2_ROWS,
        "doc_id string, text string, "
        "spans array<struct<start:int,end:int,text:string,label:string>>",
    )
    reg = df.withColumn("_r", regularize_udf(F.col("text"), F.col("spans")))
    return (
        reg.select(
            "doc_id",
            F.col("_r.text").alias("scrubbed"),
            F.posexplode("_r.spans").alias("span_idx", "s"),
        )
        .select(
            "doc_id",
            "scrubbed",
            F.col("span_idx").cast("long").alias("span_idx"),
            F.col("s.start").cast("long").alias("span_start"),
            F.col("s.end").cast("long").alias("span_end"),
            F.col("s.text").alias("span_text"),
            F.col("s.label").alias("label"),
        )
    )


# ---------------------------------------------------------------------------
# Entity linking, blocked on the normalized digit key (SQL-expressible
# variant; the n-gram-scored linker is `link_entities`, tested in pytest
# and registered rows-only below).
# ---------------------------------------------------------------------------

_ALIAS_ROWS = [
    ("98,532元", "E1", "98532"),
    ("98532元", "E1", "98532"),
    ("1,680元", "E2", "1680"),
    ("45,000元", "E3", "45000"),
    ("80000元", "E4", "80000"),
]


def _alias_values() -> str:
    rows = ", ".join(f"('{a}', '{c}', '{b}')" for a, c, b in _ALIAS_ROWS)
    return f"(VALUES {rows}) AS d(alias, canonical_id, block_key)"


@register(
    "entity_link_blocked",
    f"""
    WITH mentions AS (
      SELECT vid, unnest(regexp_extract_all(text, '{_MONEY_RE}')) AS mention
      FROM {_verdicts_values()}
    ),
    keyed AS (
      SELECT vid, mention, regexp_replace(mention, '[^0-9]', '', 'g') AS block_key
      FROM mentions
    )
    SELECT k.vid, k.mention,
           min(d.canonical_id) AS canonical_id,
           count(d.canonical_id) AS n_candidates
    FROM keyed k
    LEFT JOIN {_alias_values()} ON d.block_key = k.block_key
    GROUP BY k.vid, k.mention
    """,
)
def entity_link_blocked(spark, sf_dir):
    mentions = money_mentions(spark, sf_dir).withColumn(
        "block_key", F.regexp_replace("mention", "[^0-9]", "")
    )
    alias_df = spark.createDataFrame(
        _ALIAS_ROWS, "alias string, canonical_id string, block_key string"
    )
    joined = mentions.join(F.broadcast(alias_df), on="block_key", how="left")
    return joined.groupBy("vid", "mention").agg(
        F.min("canonical_id").alias("canonical_id"),
        F.count("canonical_id").alias("n_candidates"),
    )


# ---------------------------------------------------------------------------
# Entity linking, embedding-cosine scorer (north_star's third scorer):
# same blocking/broadcast/argmax machinery, score = Catalyst cosine over
# embedding arrays both sides carry. Scores are strictly distinct per
# mention so the argmax is comparator-independent across engines.
# block_key literals = pred#normalize_money(obj) (98,532元→98532 etc.).
# ---------------------------------------------------------------------------

_EMB_MENTIONS = [
    ("m1", "醫療費用", "98,532元", [1.0, 0.0, 0.0]),
    ("m2", "醫療費用", "八萬元", [0.6, 0.8, 0.0]),
    ("m3", "薪資收入", "98,532元", [0.0, 1.0, 0.0]),  # block has no aliases
]
_EMB_ALIASES = [
    ("醫療98532", "c1", "醫療費用#98532", [0.9, 0.1, 0.0]),
    ("醫療98532b", "c2", "醫療費用#98532", [0.0, 0.0, 1.0]),  # orthogonal
    ("醫療80000", "c3", "醫療費用#80000", [0.6, 0.8, 0.0]),   # exact match
]


def _emb_mention_values() -> str:
    rows = ", ".join(
        f"('{m}', '{p}', '{o}', '{p}#{v}', {e})"
        for (m, p, o, e), v in zip(_EMB_MENTIONS, ("98532", "80000", "98532"))
    )
    return f"(VALUES {rows}) AS m(mention_id, pred, obj, block_key, e)"


def _emb_alias_values() -> str:
    rows = ", ".join(
        f"('{c}', '{b}', {e})" for _a, c, b, e in _EMB_ALIASES
    )
    return f"(VALUES {rows}) AS a(canonical_id, block_key, e)"


@register(
    "entity_link_embedding",
    f"""
    WITH cand AS (
      SELECT m.mention_id, m.pred, m.obj, a.canonical_id,
             coalesce(
               list_dot_product(m.e, a.e)
               / (sqrt(list_dot_product(m.e, m.e))
                  * sqrt(list_dot_product(a.e, a.e))),
               0.0) AS score
      FROM {_emb_mention_values()}
      LEFT JOIN {_emb_alias_values()} USING (block_key)
    )
    SELECT mention_id, pred, obj,
           arg_max(CASE WHEN score >= 0.5 THEN canonical_id END, score)
             AS canonical_id,
           round(max(score), 6) AS score
    FROM cand GROUP BY mention_id, pred, obj
    """,
)
def entity_link_embedding_q(spark, sf_dir):
    from ..operators.linking import link_entities

    mentions = spark.createDataFrame(
        _EMB_MENTIONS,
        "mention_id string, pred string, obj string, embedding array<double>",
    )
    aliases = spark.createDataFrame(
        _EMB_ALIASES,
        "alias string, canonical_id string, block_key string, "
        "embedding array<double>",
    )
    # threshold pinned: the oracle hardcodes score >= 0.5 — inheriting
    # the operator default would silently desynchronize if it's retuned
    return link_entities(mentions, aliases, scorer="embedding", threshold=0.5)


# ---------------------------------------------------------------------------
# Connected components (canonicalization) — iterative DataFrame joins vs a
# recursive-CTE oracle on a fixed small graph with cycles.
# ---------------------------------------------------------------------------

_CC_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"),
    ("g", "h"), ("h", "i"), ("i", "g"),
    ("x", "y"), ("y", "z"),
    ("lone1", "lone2"),
]


def _cc_values() -> str:
    rows = ", ".join(f"('{s}', '{d}')" for s, d in _CC_EDGES)
    return f"(VALUES {rows}) AS e(src, dst)"


# larger planted graph: 20 rings of 15 nodes (cycles) + md5-derived
# chords inside each ring + a few ring-merging bridges — non-trivial
# component structure, still cheap for the recursive-CTE oracle.
def _cc_large_edges() -> list[tuple[str, str]]:
    import hashlib

    edges = []
    for c in range(20):
        base = c * 15
        for j in range(15):
            edges.append((f"n{base + j:03d}", f"n{base + (j + 1) % 15:03d}"))
        for j in range(15):
            h = int(hashlib.md5(f"chord#{c}#{j}".encode()).hexdigest()[:8], 16)
            if h % 4 == 0:
                edges.append(
                    (f"n{base + j:03d}", f"n{base + (j + h % 13 + 1) % 15:03d}")
                )
    for c in range(0, 20, 4):  # bridge rings c and c+1 -> 15 components total
        if c + 1 < 20:
            edges.append((f"n{c * 15:03d}", f"n{(c + 1) * 15:03d}"))
    return edges


def _cc_large_values() -> str:
    rows = ", ".join(f"('{s}', '{d}')" for s, d in _cc_large_edges())
    return f"(VALUES {rows}) AS e(src, dst)"


@register(
    "connected_components_large",
    f"""
    WITH RECURSIVE
    sym AS (
      SELECT src AS a, dst AS b FROM {_cc_large_values()}
      UNION
      SELECT dst, src FROM {_cc_large_values()}
    ),
    reach AS (
      SELECT DISTINCT a AS node, a AS r FROM sym
      UNION
      SELECT s.b AS node, reach.r
      FROM reach JOIN sym s ON reach.node = s.a
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
)
def connected_components_large_q(spark, sf_dir):
    from ..operators.components import connected_components

    edges = spark.createDataFrame(_cc_large_edges(), "src string, dst string")
    return connected_components(edges)


# Incremental CC: new edges merge {a,b,c}∪{d,e,f}, extend {g,h,i}, and
# add a disjoint chain — the oracle is CC over the FULL union (recursive
# CTE), the Spark side folds the batch into the converged old labeling
# via the contraction graph (operators/components.merge_components).
_CC_NEW_EDGES = [("c", "d"), ("i", "j"), ("p", "q"), ("q", "r")]


def _cc_new_values() -> str:
    rows = ", ".join(f"('{s}', '{d}')" for s, d in _CC_NEW_EDGES)
    return f"(VALUES {rows}) AS e(src, dst)"


@register(
    "merge_components",
    f"""
    WITH RECURSIVE
    alle AS (
      SELECT src, dst FROM {_cc_values()}
      UNION ALL
      SELECT src, dst FROM {_cc_new_values()}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM alle
      UNION
      SELECT dst, src FROM alle
    ),
    reach AS (
      SELECT DISTINCT a AS node, a AS r FROM sym
      UNION
      SELECT s.b AS node, reach.r
      FROM reach JOIN sym s ON reach.node = s.a
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
)
def merge_components_q(spark, sf_dir):
    from ..operators.components import connected_components, merge_components

    old = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    new = spark.createDataFrame(_CC_NEW_EDGES, "src string, dst string")
    return merge_components(connected_components(old), new)


@register_extra(
    "connected_components",
    f"""
    WITH RECURSIVE
    sym AS (
      SELECT src AS a, dst AS b FROM {_cc_values()}
      UNION
      SELECT dst, src FROM {_cc_values()}
    ),
    reach AS (
      SELECT DISTINCT a AS node, a AS r FROM sym
      UNION
      SELECT s.b AS node, reach.r
      FROM reach JOIN sym s ON reach.node = s.a
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
)
def connected_components_q(spark, sf_dir):
    from ..operators.components import connected_components

    edges = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    return connected_components(edges)


# ---------------------------------------------------------------------------
# Threshold sweep (one-pass inference-threshold selection over the grid).
# ---------------------------------------------------------------------------

_SWEEP_PRED = [
    ("d1", "醫療費用", 4, 11, 0.92), ("d1", "醫療費用", 20, 27, 0.55),
    ("d1", "精神慰撫金額", 30, 37, 0.35), ("d2", "醫療費用", 0, 6, 0.72),
    ("d2", "薪資收入", 8, 14, 0.45), ("d3", "薪資收入", 2, 9, 0.81),
    ("d3", "醫療費用", 12, 18, 0.31), ("d4", "精神慰撫金額", 5, 12, 0.65),
    # pred-only class: exercises the full-join leg of the per-class eval
    ("d2", "過失比例", 1, 5, 0.9),
]
_SWEEP_GOLD = [
    ("d1", "醫療費用", 4, 11), ("d1", "精神慰撫金額", 30, 37),
    ("d2", "醫療費用", 0, 6), ("d3", "薪資收入", 2, 9),
    ("d4", "精神慰撫金額", 5, 12), ("d4", "薪資收入", 20, 26),
    # gold-only class: a class with zero predictions must report a row
    ("d5", "車損修復費用", 3, 9),
]
_SWEEP_GRID = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.95)


def _sweep_pred_values() -> str:
    return ", ".join(f"('{d}', '{p}', {s}, {e}, {pr})" for d, p, s, e, pr in _SWEEP_PRED)


def _sweep_gold_values() -> str:
    return ", ".join(f"('{d}', '{p}', {s}, {e})" for d, p, s, e in _SWEEP_GOLD)


@register_extra(
    "threshold_sweep",
    f"""
    WITH pred AS (
      SELECT * FROM (VALUES {_sweep_pred_values()})
        AS p(doc_id, prompt, s, e, prob)
    ),
    gold AS (
      SELECT * FROM (VALUES {_sweep_gold_values()})
        AS g(doc_id, prompt, s, e)
    ),
    grid AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_GRID)}]) AS threshold),
    surv AS (
      SELECT grid.threshold, pred.* FROM pred JOIN grid ON pred.prob > grid.threshold
    ),
    infer AS (SELECT threshold, count(*) AS num_infer FROM surv GROUP BY 1),
    corr AS (
      SELECT threshold, count(*) AS num_correct
      FROM surv JOIN gold USING (doc_id, prompt, s, e) GROUP BY 1
    ),
    label AS (SELECT count(*) AS num_label FROM gold)
    SELECT g.threshold,
           coalesce(c.num_correct, 0) AS num_correct,
           coalesce(i.num_infer, 0) AS num_infer,
           l.num_label,
           coalesce(round(c.num_correct / i.num_infer::DOUBLE, 6), 0.0) AS precision_,
           coalesce(round(c.num_correct / l.num_label::DOUBLE, 6), 0.0) AS recall_,
           CASE WHEN coalesce(c.num_correct, 0) = 0 THEN 0.0
                ELSE round(2.0 * c.num_correct
                           / (i.num_infer + l.num_label)::DOUBLE, 6) END AS f1
    FROM grid g
    LEFT JOIN infer i USING (threshold)
    LEFT JOIN corr c USING (threshold)
    CROSS JOIN label l
    """,
)
def threshold_sweep_q(spark, sf_dir):
    from ..operators.evaluation import threshold_sweep

    pred = spark.createDataFrame(
        _SWEEP_PRED,
        "doc_id string, prompt string, s int, e int, probability double",
    )
    gold = spark.createDataFrame(
        _SWEEP_GOLD, "doc_id string, prompt string, s int, e int"
    )
    out = threshold_sweep(pred, gold, _SWEEP_GRID, keys=("doc_id", "prompt", "s", "e"))
    return out.select(
        "threshold",
        F.col("num_correct").cast("long").alias("num_correct"),
        F.col("num_infer").cast("long").alias("num_infer"),
        F.col("num_label").cast("long").alias("num_label"),
        "precision_", "recall_", "f1",
    )


# ---------------------------------------------------------------------------
# A3 — per-class (per-prompt) P/R/F1: the metric the reference's README
# table reports per entity type (README.md:22-28, run_eval.py grouped by
# prompt). Grouped span_f1 over the sweep fixtures, predictions
# thresholded at the strict > 0.5 the reference hardwires; pred-only and
# gold-only classes pin the full-outer-join legs.
# ---------------------------------------------------------------------------


@register(
    "span_eval_by_class",
    f"""
    WITH pred AS (
      SELECT * FROM (VALUES {_sweep_pred_values()})
        AS p(doc_id, prompt, s, e, prob)
      WHERE prob > 0.5
    ),
    gold AS (
      SELECT * FROM (VALUES {_sweep_gold_values()})
        AS g(doc_id, prompt, s, e)
    ),
    correct AS (
      SELECT p.prompt, count(*) AS num_correct
      FROM pred p JOIN gold g USING (doc_id, prompt, s, e)
      GROUP BY p.prompt
    ),
    infer AS (SELECT prompt, count(*) AS num_infer FROM pred GROUP BY prompt),
    label AS (SELECT prompt, count(*) AS num_label FROM gold GROUP BY prompt)
    SELECT prompt,
           coalesce(c.num_correct, 0) AS num_correct,
           coalesce(i.num_infer, 0) AS num_infer,
           coalesce(l.num_label, 0) AS num_label,
           CASE WHEN coalesce(i.num_infer, 0) = 0 THEN 0.0
                ELSE round(coalesce(c.num_correct, 0) / CAST(i.num_infer AS DOUBLE), 6)
           END AS precision_,
           CASE WHEN coalesce(l.num_label, 0) = 0 THEN 0.0
                ELSE round(coalesce(c.num_correct, 0) / CAST(l.num_label AS DOUBLE), 6)
           END AS recall_,
           CASE WHEN coalesce(c.num_correct, 0) = 0 THEN 0.0
                ELSE round(2 * (c.num_correct / CAST(i.num_infer AS DOUBLE))
                             * (c.num_correct / CAST(l.num_label AS DOUBLE))
                           / ((c.num_correct / CAST(i.num_infer AS DOUBLE))
                              + (c.num_correct / CAST(l.num_label AS DOUBLE))), 6)
           END AS f1
    FROM infer i
    FULL OUTER JOIN label l USING (prompt)
    LEFT JOIN correct c USING (prompt)
    """,
)
def span_eval_by_class_q(spark, sf_dir):
    from ..operators.evaluation import span_f1

    pred = spark.createDataFrame(
        _SWEEP_PRED,
        "doc_id string, prompt string, s int, e int, probability double",
    ).filter(F.col("probability") > 0.5)
    gold = spark.createDataFrame(
        _SWEEP_GOLD, "doc_id string, prompt string, s int, e int"
    )
    out = span_f1(pred, gold, keys=("doc_id", "prompt", "s", "e"),
                  group_col="prompt")
    return out.select(
        "prompt",
        F.col("num_correct").cast("long").alias("num_correct"),
        F.col("num_infer").cast("long").alias("num_infer"),
        F.col("num_label").cast("long").alias("num_label"),
        "precision_", "recall_", "f1",
    )


# ---------------------------------------------------------------------------
# The full stub pipeline, ORACLED end-to-end. The whole dataflow is
# deterministic md5 arithmetic, so DuckDB reproduces it independently:
#   documents -> 3-turn transcripts (mention = md5-picked entity+money
#   inserted at len/3) -> assemble -> scrub -> chunk windows of
#   512-len(prompt)-3 -> stub regex match (prompt-adjacent money) ->
#   md5-derived start/end probabilities -> p_s·p_e > 0.5 threshold.
# The corpus is ASCII-ish (no CJK), so the ONLY possible match per doc
# is the injected mention; the oracle computes its scrubbed offset via
# prefix-length arithmetic and handles the chunk-boundary tail (a
# mention straddling a window matches only its in-window money PREFIX —
# every prefix of the money surfaces is itself regex-valid).
# ---------------------------------------------------------------------------


def _scrub_sql(x: str) -> str:
    """Reference scrub order: single-char classes, then literal \\n."""
    return (
        f"regexp_replace(regexp_replace({x}, '[{chr(10)} 　]', '', 'g'), "
        f"'\\\\n', '', 'g')"
    )


def _sql_list(items) -> str:
    return "[" + ", ".join(f"'{s}'" for s in items) + "]"


def _md5_pick_sql(tag: str, n: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('{tag}#' || CAST(doc_id AS VARCHAR)), 1, 8))"
        f"::BIGINT % {n} AS INT) + 1"
    )


def _unit_sql(parts: str) -> str:
    """_stable_unit: int(md5(parts)[:8], 16) / 0xFFFFFFFF."""
    return (
        f"(('0x' || substring(md5({parts}), 1, 8))::BIGINT / 4294967295.0)"
    )


def _triples_ctes() -> str:
    """The shared CTE body (documents -> scored spans); reused by the
    graph_vertices oracle."""
    from .. import ENTITY_TYPES
    from ..sources.transcripts import _MONEY

    return f"""
    picked AS (
      SELECT doc_id, text,
             CAST(floor(length(text) / 3) AS INT) AS third,
             ({_sql_list(ENTITY_TYPES)})[{_md5_pick_sql('ent#42', len(ENTITY_TYPES))}] AS pred,
             ({_sql_list(_MONEY)})[{_md5_pick_sql('money#43', len(_MONEY))}] AS money
      FROM documents
      WHERE text IS NOT NULL
    ),
    geom AS (
      SELECT doc_id, pred, money,
             length({_scrub_sql('text[1:third]')}) AS p,
             512 - length(pred) - 3 AS w
      FROM picked
    ),
    avail AS (
      SELECT doc_id, pred, money, p, w,
             p + length(pred) AS s_abs,
             ((p // w) + 1) * w - (p + length(pred)) AS n_avail
      FROM geom
    ),
    spans AS (
      SELECT doc_id, pred,
             money[1:least(length(money), n_avail)] AS obj,
             s_abs,
             s_abs + least(length(money), n_avail) AS e_abs
      FROM avail WHERE n_avail >= 1
    ),
    scored AS (
      SELECT doc_id, pred, obj, s_abs, e_abs,
             (0.51 + 0.48 * {_unit_sql("pred || '|' || obj || '|s'")})
           * (0.51 + 0.48 * {_unit_sql("pred || '|' || obj || '|e'")}) AS prob
      FROM spans
    )
    """


def _triples_sql() -> str:
    return f"""
    WITH {_triples_ctes()}
    SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS subj,
           pred, obj, prob,
           'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(s_abs AS BIGINT) AS start,
           CAST(e_abs AS BIGINT) AS "end"
    FROM scored WHERE prob > 0.5
    """


@register("triples_pipeline", _triples_sql())
def triples_pipeline(spark, sf_dir):
    from ..plans.pipeline import extract_triples
    from ..sources.transcripts import transcripts_from_documents

    docs = load(spark, sf_dir, "documents")
    edges = extract_triples(transcripts_from_documents(docs), max_seq_len=512)
    return edges.withColumn("start", F.col("start").cast("long")).withColumn(
        "end", F.col("end").cast("long")
    )


def _vertices_sql() -> str:
    """graph_vertices oracle, valid at the gate's sf0.01 scale: every
    document there fits ONE chunk (max scrubbed length < window), so
    every emitted obj is one of the 10 FULL money surfaces — all
    normalizable (golden values pinned independently by the
    `money_normalize` gate), hence the similarity/CC layer is provably
    idle and canon_key = pred#value. The golden join is INNER: if an
    unexpected surface ever appears (e.g. a chunk-straddle prefix at a
    larger SF), the row-count mismatch fails the gate loudly instead of
    silently absorbing it."""
    from ..sources.transcripts import _MONEY

    golden = {raw: val for raw, val in _MONEY_GOLDEN}
    rows = ", ".join(f"('{m}', '{golden[m]}')" for m in _MONEY)
    return f"""
    WITH {_triples_ctes()},
    edges AS (
      SELECT pred, obj FROM scored WHERE prob > 0.5
    ),
    golden AS (SELECT * FROM (VALUES {rows}) AS g(raw, value)),
    keyed AS (
      SELECT pred, obj, pred || '#' || g.value AS canon_key
      FROM edges JOIN golden g ON g.raw = edges.obj
    ),
    counts AS (
      SELECT canon_key, pred, obj, count(*) AS n
      FROM keyed GROUP BY canon_key, pred, obj
    ),
    ranked AS (
      SELECT canon_key, pred, obj,
             row_number() OVER (PARTITION BY canon_key ORDER BY n DESC, obj DESC)
               AS rk,
             CAST(sum(n) OVER (PARTITION BY canon_key) AS BIGINT) AS n_mentions
      FROM counts
    )
    SELECT md5(canon_key) AS entity_id,
           obj AS canonical_text,
           pred AS type,
           n_mentions
    FROM ranked WHERE rk = 1
    """


@register("graph_vertices", _vertices_sql())
def graph_vertices(spark, sf_dir):
    """Full KG tail: extraction edges -> canonical vertex table."""
    from ..plans.graph import build_graph

    edges = triples_pipeline(spark, sf_dir)
    vertices, _ = build_graph(edges)
    return vertices


def _kg_fused_sql() -> str:
    """kg_fused_edges oracle — the COMPLETE KG-construction tail
    (extraction -> golden-value canonicalization -> noisy-or fusion per
    (subj, pred, entity)) in one SQL. Valid at sf0.01 for the same
    reason as the graph_vertices oracle: every obj is a full, golden-
    normalizable money surface, so the similarity/CC layer is provably
    idle and canon_key = pred#value; the golden join stays INNER so an
    unexpected surface fails the row count loudly. Subjects are
    re-keyed to case-(doc_id %% 97) so facts genuinely repeat across
    documents — the noisy-or path is exercised with multi-mention,
    multi-doc groups, not vacuous singletons."""
    from ..sources.transcripts import _MONEY

    golden = {raw: val for raw, val in _MONEY_GOLDEN}
    rows = ", ".join(f"('{m}', '{golden[m]}')" for m in _MONEY)
    return f"""
    WITH {_triples_ctes()},
    edges AS (
      SELECT 'case-' || CAST(doc_id % 97 AS VARCHAR) AS subj,
             pred, obj, prob,
             'doc-' || CAST(doc_id AS VARCHAR) AS doc_id
      FROM scored WHERE prob > 0.5
    ),
    golden AS (SELECT * FROM (VALUES {rows}) AS g(raw, value)),
    keyed AS (
      SELECT subj, pred, obj, prob, doc_id,
             pred || '#' || g.value AS canon_key
      FROM edges JOIN golden g ON g.raw = edges.obj
    ),
    counts AS (
      SELECT canon_key, obj, count(*) AS n
      FROM keyed GROUP BY canon_key, obj
    ),
    canon_text AS (
      SELECT canon_key, obj AS canonical_text
      FROM counts
      QUALIFY row_number() OVER (
        PARTITION BY canon_key ORDER BY n DESC, obj DESC) = 1
    )
    SELECT k.subj, k.pred,
           md5(k.canon_key) AS entity_id,
           ct.canonical_text,
           round(greatest(1 - exp(sum(ln(greatest(1e-12, 1 - k.prob)))),
                          max(k.prob)), 6) AS fused_prob,
           count(*) AS n_mentions,
           count(DISTINCT k.doc_id) AS n_docs,
           round(max(k.prob), 6) AS max_prob,
           min(k.doc_id) AS first_doc
    FROM keyed k JOIN canon_text ct ON ct.canon_key = k.canon_key
    GROUP BY k.subj, k.pred, k.canon_key, ct.canonical_text
    """


@register("kg_fused_edges", _kg_fused_sql())
def kg_fused_edges(spark, sf_dir):
    """The composed ``plans.graph.build_kg`` job end-to-end: extraction
    edges -> normalize/link/canonicalize -> noisy-or fusion over the
    CANONICAL entity ids (surface variants collapse BEFORE their
    mentions combine as evidence)."""
    from ..plans.graph import build_kg

    edges = triples_pipeline(spark, sf_dir)
    edges = edges.withColumn(
        "subj",
        F.concat(
            F.lit("case-"),
            (F.regexp_extract("doc_id", "(\\d+)", 1).cast("long") % 97)
            .cast("string"),
        ),
    )
    _, fused = build_kg(edges)
    return fused.select(
        "subj", "pred", "entity_id", "canonical_text",
        F.round("fused_prob", 6).alias("fused_prob"),
        "n_mentions", "n_docs",
        F.round("max_prob", 6).alias("max_prob"),
        "first_doc",
    )


def _synth_assets_cte(n: int = 200, seed: int = 42) -> str:
    """DuckDB CTE reproducing operators.multimodal.synth_assets — every
    field is md5-hex-derived, so the SQL is byte-identical to Spark."""
    return f"""
    ids AS (SELECT unnest(range(0, {n})) AS asset_id),
    synth AS (
      SELECT asset_id,
             repeat(md5(concat('asset', asset_id)), 4) AS payload_hex,
             (['image','audio','video'])[
               ((strpos('0123456789abcdef',
                        substring(md5(concat('mod#{seed}#', asset_id)), 1, 1)) - 1) % 3) + 1
             ] AS modality,
             1000 + ('0x' || substring(md5(concat('dur#{seed}#', asset_id)), 1, 2))::INT * 16
               AS duration_ms
      FROM ids)
    """


@register(
    "multimodal_features",
    f"""
    WITH {_synth_assets_cte()}
    SELECT asset_id, modality,
           octet_length(unhex(payload_hex)) AS n_bytes,
           sha256(payload_hex) AS content_sha
    FROM synth
    """,
)
def multimodal_features(spark, sf_dir):
    """Feature-extraction mapInPandas stage, gate-projected to the
    scalar columns (the array<float> vector itself can't cross the
    driver's pandas canonicalizer — it's fingerprinted in
    `multimodal_feature_vec`)."""
    from ..operators.multimodal import extract_features, synth_assets

    feats = extract_features(synth_assets(spark, n=200), dim=16)
    return feats.select("asset_id", "modality", "n_bytes", "content_sha")


@register(
    "frame_sampling",
    f"""
    WITH {_synth_assets_cte()},
    vids AS (SELECT asset_id, payload_hex, duration_ms FROM synth WHERE modality = 'video'),
    frames AS (
      SELECT asset_id, payload_hex,
             unnest(range(0, duration_ms, 1000)) AS ts
      FROM vids
    )
    SELECT asset_id,
           ts // 1000 AS frame_idx,
           ts AS frame_ts_ms,
           sha256(concat(payload_hex, lpad(lower(to_hex(ts)), 8, '0'))) AS frame_sha
    FROM frames
    """,
)
def frame_sampling(spark, sf_dir):
    from ..operators.multimodal import sample_frames, synth_assets

    out = sample_frames(synth_assets(spark, n=200), every_ms=1000)
    return out.select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        "frame_sha",
    )


# Round 5: the entity_link_scored / entity_link_tfidf oracles are now
# per-MENTION shaped (threshold-null then QUALIFY row_number over
# (score DESC, canonical_id DESC NULLS LAST) — exactly link_entities'
# max_by(struct(canonical,score,alias), struct(score,canonical))
# comparator), the m CTE is DISTINCT, and the tfidf term CTEs key by
# (mention_id, alias). Multi-alias blocks and duplicate surfaces per
# verdict are therefore FAIR GAME — E4 below shares E1's block to keep
# the argmax leg non-vacuous (the r4 one-alias-per-block constraint is
# retired).
_LINK_ALIASES = [
    ("98,532元", "E1", "醫療費用#98532"),
    ("98532元", "E4", "醫療費用#98532"),  # second alias, same block
    ("1,680元", "E2", "醫療費用#1680"),
    ("45,000元", "E3", "醫療費用#45000"),
]

# Shared mentions/m/d CTE prefix of the two linking oracles — ONE
# definition so the mention derivation cannot drift between them.
_LINK_MENTION_CTES = f"""mentions AS (
      SELECT vid, unnest(regexp_extract_all(text, '{_MONEY_RE}')) AS mention
      FROM {_verdicts_values()}
    ),
    m AS (
      SELECT DISTINCT concat(vid, '#', mention) AS mention_id,
             '醫療費用' AS pred, mention AS obj,
             concat('醫療費用#', regexp_replace(mention, '[^0-9]', '', 'g')) AS block_key
      FROM mentions
    ),
    d AS (
      SELECT * FROM (VALUES {", ".join(f"('{a}', '{c}', '{b}')" for a, c, b in _LINK_ALIASES)})
        AS d(alias, canonical_id, block_key)
    )"""


def _bigrams_sql(col: str) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(length({col}) - 1, 0) + 1), "
        f"i -> substring({col}, CAST(i AS INT), 2)))"
    )


def _bigrams_multiset_sql(col: str) -> str:
    """Non-distinct bigrams (TF-IDF needs term frequencies)."""
    return (
        f"list_transform(range(1, greatest(length({col}) - 1, 0) + 1), "
        f"i -> substring({col}, CAST(i AS INT), 2))"
    )


@register_extra(
    "entity_link_scored",
    f"""
    WITH {_LINK_MENTION_CTES},
    cand AS (
      SELECT m.mention_id, m.pred, m.obj, d.alias, d.canonical_id,
             {_bigrams_sql("m.obj")} AS ga,
             {_bigrams_sql("d.alias")} AS gb
      FROM m LEFT JOIN d USING (block_key)
    ),
    scored AS (
      SELECT mention_id, pred, obj, canonical_id,
             CASE WHEN alias IS NULL THEN 0.0
                  -- nullif guards the empty-union case (both surfaces
                  -- shorter than a bigram): Spark's jaccard() returns
                  -- 0.0 there, a bare division would emit NULL
                  ELSE coalesce(len(list_intersect(ga, gb))::DOUBLE
                       / nullif(len(list_distinct(list_concat(ga, gb))), 0),
                       0.0) END AS score
      FROM cand
    ),
    thresh AS (
      SELECT mention_id, pred, obj,
             CASE WHEN score >= 0.3 THEN canonical_id END AS canonical_id,
             score
      FROM scored
    )
    -- per-mention argmax = link_entities' max_by comparator
    -- struct(score, canonical_id): score first, larger canonical wins
    -- ties, NULL canonical loses to any value
    SELECT mention_id, pred, obj, canonical_id, round(score, 6) AS score
    FROM thresh
    QUALIFY row_number() OVER (
      PARTITION BY mention_id, pred, obj
      ORDER BY score DESC, canonical_id DESC NULLS LAST
    ) = 1
    """,
)
def entity_link_scored(spark, sf_dir):
    from ..operators.linking import link_entities

    return link_entities(
        _link_mentions(spark, sf_dir), _link_alias_df(spark), threshold=0.3
    )


def _link_mentions(spark, sf_dir):
    return money_mentions(spark, sf_dir).select(
        F.concat_ws("#", "vid", "mention").alias("mention_id"),
        F.lit("醫療費用").alias("pred"),
        F.col("mention").alias("obj"),
    )


def _link_alias_df(spark):
    return spark.createDataFrame(
        _LINK_ALIASES, "alias string, canonical_id string, block_key string"
    )


_TFIDF_ORACLE_SQL = (
    f"""
    WITH {_LINK_MENTION_CTES},
    corpus AS (SELECT count(*) AS n FROM d),
    dterms AS (SELECT alias, unnest({_bigrams_multiset_sql("alias")}) AS t FROM d),
    -- sklearn-style smooth idf fitted on the alias corpus
    idf AS (
      SELECT t, ln((1.0 + (SELECT n FROM corpus)) / (1.0 + count(DISTINCT alias))) + 1 AS w
      FROM dterms GROUP BY t
    ),
    cand AS (
      SELECT m.mention_id, m.pred, m.obj, d.alias, d.canonical_id
      FROM m LEFT JOIN d USING (block_key)
    ),
    -- obj weights are per MENTION (one obj string per mention_id —
    -- derived from DISTINCT mention rows, so a multi-alias block does
    -- not double the term frequencies)
    mo AS (SELECT DISTINCT mention_id, obj FROM cand WHERE alias IS NOT NULL),
    ta0 AS (
      SELECT mention_id, t, count(*) AS tf
      FROM (SELECT mention_id, unnest({_bigrams_multiset_sql("obj")}) AS t
            FROM mo)
      GROUP BY 1, 2
    ),
    ta AS (
      SELECT mention_id, t,
             tf * coalesce(i.w, ln(1.0 + (SELECT n FROM corpus)) + 1) AS w
      FROM ta0 LEFT JOIN idf i USING (t)
    ),
    -- alias weights are per CANDIDATE (mention_id, alias)
    tb0 AS (
      SELECT mention_id, alias, t, count(*) AS tf
      FROM (SELECT mention_id, alias, unnest({_bigrams_multiset_sql("alias")}) AS t
            FROM cand WHERE alias IS NOT NULL)
      GROUP BY 1, 2, 3
    ),
    tb AS (
      SELECT mention_id, alias, t, tf * i.w AS w
      FROM tb0 JOIN idf i USING (t)
    ),
    dotp AS (
      SELECT tb.mention_id, tb.alias, sum(ta.w * tb.w) AS dot
      FROM ta JOIN tb ON ta.mention_id = tb.mention_id AND ta.t = tb.t
      GROUP BY 1, 2
    ),
    na AS (SELECT mention_id, sqrt(sum(w * w)) AS v FROM ta GROUP BY mention_id),
    nb AS (
      SELECT mention_id, alias, sqrt(sum(w * w)) AS v
      FROM tb GROUP BY 1, 2
    ),
    scored AS (
      SELECT c.mention_id, c.pred, c.obj, c.canonical_id,
             CASE WHEN c.alias IS NULL
                       OR coalesce(na.v, 0) * coalesce(nb.v, 0) = 0 THEN 0.0
                  -- the norm guard covers sub-bigram objs/aliases (no
                  -- term rows -> na/nb NULL): both Spark paths emit 0.0
                  -- there, a bare division would emit NULL
                  ELSE coalesce(dp.dot, 0.0) / (na.v * nb.v) END AS score
      FROM cand c
      LEFT JOIN dotp dp ON c.mention_id = dp.mention_id AND c.alias = dp.alias
      LEFT JOIN na ON c.mention_id = na.mention_id
      LEFT JOIN nb ON c.mention_id = nb.mention_id AND c.alias = nb.alias
    ),
    thresh AS (
      SELECT mention_id, pred, obj,
             CASE WHEN score >= 0.3 THEN canonical_id END AS canonical_id,
             score
      FROM scored
    )
    -- per-mention argmax = link_entities' max_by comparator
    SELECT mention_id, pred, obj, canonical_id, round(score, 6) AS score
    FROM thresh
    QUALIFY row_number() OVER (
      PARTITION BY mention_id, pred, obj
      ORDER BY score DESC, canonical_id DESC NULLS LAST
    ) = 1
    """
)


@register("entity_link_tfidf", _TFIDF_ORACLE_SQL)
def entity_link_tfidf(spark, sf_dir):
    """north_star's TF-IDF cosine linking variant, oracled end-to-end:
    IDF fitted on the alias corpus, char-bigram term frequencies,
    smooth-idf weighting (reference semantics: rare n-grams dominate
    the match score for longer surfaces)."""
    from ..operators.linking import link_entities

    return link_entities(
        _link_mentions(spark, sf_dir), _link_alias_df(spark),
        threshold=0.3, scorer="tfidf",
    )
