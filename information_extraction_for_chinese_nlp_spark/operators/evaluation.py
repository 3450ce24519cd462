"""A2/A3 — span P/R/F1 as exact-match joins (reference run_eval.py:60-114).

The reference streams batches through PaddleNLP's SpanEvaluator,
accumulating (num_correct, num_infer, num_label). In Spark the same
metric is one inner join plus three counts — partial aggregation gives
the reference's partial+final accumulation for free.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def eval_counts(
    pred: DataFrame,
    gold: DataFrame,
    keys: Sequence[str],
    group_col: str | None = None,
) -> DataFrame:
    """Exact-match evaluation.

    pred/gold must both carry `keys` (the span identity, e.g.
    doc_id/prompt/start/end) and, if grouped, `group_col`.
    Returns per-group (num_correct, num_infer, num_label, precision_,
    recall_); group '%total%' semantics are left to the caller (union).
    """
    group = [group_col] if group_col else []

    correct = (
        pred.join(gold.select(*keys).distinct(), on=list(keys), how="inner")
        .groupBy(*group)
        .agg(F.count("*").alias("num_correct"))
    )
    infer = pred.groupBy(*group).agg(F.count("*").alias("num_infer"))
    label = gold.groupBy(*group).agg(F.count("*").alias("num_label"))

    if group:
        out = (
            infer.join(label, on=group, how="full")
            .join(correct, on=group, how="left")
        )
    else:
        out = infer.crossJoin(label).crossJoin(correct)

    out = out.na.fill({"num_correct": 0, "num_infer": 0, "num_label": 0})
    # 0/0 -> 0.0, matching SpanEvaluator.accumulate (a class with no
    # predictions reports precision 0.0, not NULL/NaN). try_divide keeps
    # ANSI mode (Spark 4 default) from raising DIVIDE_BY_ZERO.
    precision = F.coalesce(
        F.round(F.try_divide("num_correct", F.col("num_infer").cast("double")), 6),
        F.lit(0.0),
    )
    recall = F.coalesce(
        F.round(F.try_divide("num_correct", F.col("num_label").cast("double")), 6),
        F.lit(0.0),
    )
    return out.select(
        *group,
        "num_correct",
        "num_infer",
        "num_label",
        precision.alias("precision_"),
        recall.alias("recall_"),
    )


def span_f1(pred: DataFrame, gold: DataFrame,
            keys: Sequence[str] = ("doc_id", "prompt", "start", "end"),
            group_col: str | None = "prompt") -> DataFrame:
    """Convenience wrapper with F1 for the triple-extraction eval
    (SpanEvaluator parity: P = C/I, R = C/L, F1 = 2PR/(P+R))."""
    counts = eval_counts(pred, gold, list(keys), group_col)
    p = F.col("num_correct") / F.col("num_infer")
    r = F.col("num_correct") / F.col("num_label")
    return counts.withColumn(
        "f1",
        F.when(F.col("num_correct") == 0, F.lit(0.0)).otherwise(
            F.round(2 * p * r / (p + r), 6)
        ),
    )


def threshold_sweep(
    pred: DataFrame,
    gold: DataFrame,
    thresholds: Sequence[float] = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
    keys: Sequence[str] = ("doc_id", "prompt", "start", "end"),
    prob_col: str = "probability",
) -> DataFrame:
    """Pick the inference threshold in ONE pass (the reference hardwires
    limit=0.5, tools/convert_to_labelstudio.py:79-87; tuning it means
    re-running eval per candidate — here the prediction set explodes
    across the grid (narrow) and a single aggregation yields
    per-threshold exact-match counts, so a 10-point sweep costs one scan
    of predictions, not ten).

    -> (threshold, num_correct, num_infer, num_label, precision_,
        recall_, f1) with a row for EVERY grid point (zero-filled when
    no prediction survives). Strict > threshold, matching M4's
    `strategy_threshold`.
    """
    spark = pred.sparkSession
    grid = local_frame(
        spark, [(float(t),) for t in thresholds], "threshold double"
    )
    # Join gold ONCE at 1× prediction volume and explode the grid AFTER:
    # exploding first would multiply the key-shuffle of the gold join by
    # |grid|. Post-explode rows feed a partial-aggregating count, so the
    # grid fan-out never crosses a shuffle either.
    matched = pred.select(*keys, F.col(prob_col).alias("_p")).join(
        gold.select(*keys).distinct().withColumn("_g", F.lit(1)),
        on=list(keys),
        how="left",
    )
    surviving = matched.withColumn(
        "threshold", F.explode(F.array(*[F.lit(float(t)) for t in thresholds]))
    ).filter(F.col("_p") > F.col("threshold"))
    counts = surviving.groupBy("threshold").agg(
        F.count("*").alias("num_infer"),
        F.count("_g").alias("num_correct"),  # count() skips NULLs
    )
    # RAW gold rows, matching eval_counts' num_label exactly — a
    # distinct here would tune the threshold against a different recall
    # denominator than the final reported eval whenever gold carries
    # duplicate rows (merged annotation exports do)
    label = gold.agg(F.count("*").alias("num_label"))

    out = (
        grid.join(counts, on="threshold", how="left")
        .crossJoin(F.broadcast(label))
        .na.fill({"num_correct": 0, "num_infer": 0})
    )
    precision = F.coalesce(
        F.round(F.try_divide("num_correct", F.col("num_infer").cast("double")), 6),
        F.lit(0.0),
    )
    recall = F.coalesce(
        F.round(F.try_divide("num_correct", F.col("num_label").cast("double")), 6),
        F.lit(0.0),
    )
    f1 = F.when(F.col("num_correct") == 0, F.lit(0.0)).otherwise(
        F.round(
            2.0
            * F.col("num_correct")
            / (F.col("num_infer") + F.col("num_label")).cast("double"),
            6,
        )
    )
    return out.select(
        "threshold",
        "num_correct",
        "num_infer",
        "num_label",
        precision.alias("precision_"),
        recall.alias("recall_"),
        f1.alias("f1"),
    )
