"""End-to-end triple extraction plan (the reference's E1 lifecycle,
SURVEY.md §3, restated as one declarative DataFrame graph).

    transcripts
      -> assemble_turns               (1 shuffle, conv_id)
      -> scrub (P1, Catalyst exprs)
      -> prompt-expand + chunk + score + decode (R1, R2, M2/M3: one
         iterator mapInPandas, narrow)
      -> strategy (threshold: narrow filter / max: 1 shuffle)
      -> edges projection

Everything after the single turn-assembly shuffle is embarrassingly
parallel, so at 10^12 turns the plan is one wide stage plus a scan —
exactly what the reference's serial per-document loop
(run_infer.py:127) cannot do.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ENTITY_TYPES
from ..functions.text import scrub_col
from ..inference.scorer import EXTRACTION_DDL, make_extract_map
from ..operators.assembly import assemble_turns
from ..operators.postprocess import apply_strategy


def extract_spans(
    documents: DataFrame,
    prompts: Sequence[str] = tuple(ENTITY_TYPES),
    max_seq_len: int = 512,
    encoder_kind: str = "stub",
    model_path: str | None = None,
    strategy: str = "threshold",
    threshold: float = 0.5,
    pack_by_length: bool = False,
) -> DataFrame:
    """documents(doc_id, text) -> extractions (exploded D5): one Arrow
    crossing doing prompt-expand + chunk + score + decode together.

    pack_by_length=True adds a repartitionByRange on document length
    before the Python stage (SURVEY §4 item 4): Arrow batches then hold
    similar-length documents, so no task stalls on a batch mixing one
    huge document with thousands of small ones. It costs one extra
    Exchange — leave it off unless the length distribution is
    heavy-tailed beyond what AQE evens out.
    """
    scrubbed = documents.select("doc_id", scrub_col(F.col("text")).alias("text"))
    if pack_by_length:
        scrubbed = scrubbed.repartitionByRange(F.length("text"), "doc_id")
    extracted = scrubbed.mapInPandas(
        make_extract_map(encoder_kind, list(prompts), max_seq_len, model_path),
        EXTRACTION_DDL,
    )
    return apply_strategy(extracted, strategy, threshold)


def extract_triples(
    transcripts: DataFrame,
    prompts: Sequence[str] = tuple(ENTITY_TYPES),
    max_seq_len: int = 512,
    encoder_kind: str = "stub",
    model_path: str | None = None,
    strategy: str = "threshold",
    threshold: float = 0.5,
    sep: str = "",
) -> DataFrame:
    """transcripts -> edge table (subj, pred, obj, prob, doc_id, start, end).

    subj = conversation id, pred = entity type (prompt), obj = span text.
    """
    docs = assemble_turns(transcripts, sep=sep)
    spans = extract_spans(
        docs.select("doc_id", "text"),
        prompts=prompts,
        max_seq_len=max_seq_len,
        encoder_kind=encoder_kind,
        model_path=model_path,
        strategy=strategy,
        threshold=threshold,
    )
    return spans.select(
        F.col("doc_id").alias("subj"),
        F.col("prompt").alias("pred"),
        F.col("span_text").alias("obj"),
        F.col("probability").alias("prob"),
        "doc_id",
        "start",
        "end",
    )
