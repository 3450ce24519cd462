"""M2 — batched encoder scoring, Spark-side as iterator ``mapInPandas``.

The reference serves a PaddleNLP UIE model via Taskflow
(run_infer.py:105-127): tokenizer + encoder + two sigmoid pointer heads
producing per-token start/end probabilities, then span decode. Here the
encoder is pluggable:

- ``StubEncoder`` — deterministic, dependency-free stand-in: finds
  prompt-conditioned money mentions by regex and assigns stable pseudo
  probabilities from md5. Char-level (identity offset mapping), so decode
  needs no tokenizer. Used for all tests/benchmarks in this sandbox.
- ``OnnxEncoder`` — loads an ONNX-exported UIE encoder once per executor
  (session cached at module level) and scores Arrow batches; gated behind
  an import-try since onnxruntime isn't in this container.

Both return per-char start/end probability vectors; decode (M3) runs in
the same pandas batch so probability vectors never cross the Arrow
boundary — only the decoded spans do.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Iterator, List, Sequence, Tuple

import numpy as np
import pandas as pd

from ..functions.spans import decode_spans
from ..functions.worker import pin_worker_threads

# Money-ish mention: Arabic digits (with separators) and/or CJK numerals,
# optional trailing 元. Matches the fixture styles 「98,532元」「八萬元」
# 「三千500元」 (reference fixture: tests/conftest.py:4-8).
_MONEY = r"(?:[0-9][0-9,\.]*|[零〇一二三四五六七八九十百千萬万億兩两]+)+元?"


def _stable_unit(*parts: str) -> float:
    """Deterministic pseudo-random in [0, 1) from md5 of the parts."""
    h = hashlib.md5("|".join(parts).encode("utf-8")).hexdigest()
    return int(h[:8], 16) / 0xFFFFFFFF


class StubEncoder:
    """Deterministic fake pointer-head encoder (char-level)."""

    def __init__(self, prompts: Sequence[str]):
        self._patterns = {p: re.compile(re.escape(p) + "(" + _MONEY + ")") for p in prompts}

    def score(self, content: str, prompt: str) -> Tuple[np.ndarray, np.ndarray]:
        n = len(content)
        start_probs = np.zeros(n, dtype=np.float64)
        end_probs = np.zeros(n, dtype=np.float64)
        pattern = self._patterns.get(prompt)
        if pattern is None or n == 0:
            return start_probs, end_probs
        for m in pattern.finditer(content):
            s, e = m.span(1)
            mention = m.group(1)
            ps = 0.51 + 0.48 * _stable_unit(prompt, mention, "s")
            pe = 0.51 + 0.48 * _stable_unit(prompt, mention, "e")
            start_probs[s] = max(start_probs[s], ps)
            end_probs[e - 1] = max(end_probs[e - 1], pe)
            # Sub-threshold noise at the prompt keyword itself — decode
            # must drop it (exercises the strict > 0.5 rule).
            ks = m.start()
            start_probs[ks] = max(start_probs[ks], 0.30)
        return start_probs, end_probs

    def extract(self, content: str, prompt: str, limit: float = 0.5):
        """Unified encoder interface: -> [(s, e_exclusive, prob)].

        Char-level identity offsets, so decode output maps directly."""
        sp, ep = self.score(content, prompt)
        return [(s, e + 1, p) for s, e, p in decode_spans(sp, ep, limit)]

    def extract_batch(self, items: Sequence[Tuple[str, str]], limit: float = 0.5):
        """[(content, prompt)] -> list of span lists (regex stub has no
        batching win; the method exists so callers have ONE code shape
        for stub and real serving)."""
        return [self.extract(content, prompt, limit) for content, prompt in items]


class UIEOnnxScorer:
    """Real serving path: tokenizer + ONNX pointer-head session.

    The full UIE dataflow (reference Taskflow internals + exported
    static graph, run_train.py:139-143, config/base_config.py:8-13):

      tokenize(prompt, content) with offsets  ->  int64 batch
      -> session.run -> per-token start/end probs
      -> threshold+pair decode (M3) on token indices
      -> offset-map token spans back to content char spans (M1 inverse)

    ``tokenizer`` and ``session`` are injected so the dataflow is fully
    testable without onnxruntime/transformers in this container:
    - tokenizer(prompt, content) -> dict with "input_ids",
      "token_type_ids", "position_ids", "attention_mask",
      "offset_mapping" (content-segment offsets, (0,0) for specials) —
      the HF fast-tokenizer shape;
    - session.run(None, feeds) -> (start_probs, end_probs) arrays of
      shape [batch, seq].
    """

    def __init__(self, session, tokenizer, max_seq_len: int = 512,
                 limit: float = 0.5):
        self.session = session
        self.tokenizer = tokenizer
        self.max_seq_len = max_seq_len
        self.limit = limit

    def extract(self, content: str, prompt: str, limit: float | None = None):
        """-> [(char_start, char_end_exclusive, probability)]."""
        return self.extract_batch([(content, prompt)], limit)[0]

    def extract_batch(
        self, items: Sequence[Tuple[str, str]], limit: float | None = None
    ):
        """[(content, prompt)] -> per-item span lists, with ONE
        ``session.run`` for the whole batch: every item is tokenized,
        the int64 feeds are zero-padded to the batch's max sequence
        length and stacked on the batch axis, and the pointer heads
        score all rows in a single forward pass — the serving contract
        the reference gets from ``batch_size=16``
        (run_infer.py:110, config/base_config.py:185-190). Scoring
        chunk-at-a-time would forfeit the entire GPU/CPU batching win.

        Tokenizer failures do NOT kill the batch: the reference
        substitutes content ``"無文本"`` and an empty result_list when its
        tokenizer throws (utils/data_utils.py:183-198 — the zh bug class
        that zeroed electra/xlnet/roformer, README.md:27). Mirrored here:
        a raising item is re-tokenized with the fallback text (keeping
        the feed row so the single ``session.run`` survives), its decoded
        spans are discarded (empty list out), and its index is recorded
        in ``self.last_failed`` (reset per call) so the caller can route
        the document to quarantine instead of losing it.
        """
        from ..functions.offsets import drift_offsets, spans_from_token_ids
        from ..functions.spans import decode_spans

        limit = self.limit if limit is None else limit
        self.last_failed: List[int] = []
        if not items:
            return []
        encs = []
        for i, (content, prompt) in enumerate(items):
            try:
                encs.append(self.tokenizer(prompt, content))
            except Exception:
                # reference fallback: same prompt, content "無文本"; the
                # fallback must tokenize (it's 3 CJK chars) — if the
                # tokenizer can't even do that, the config is broken and
                # raising IS correct.
                encs.append(self.tokenizer(prompt, "無文本"))
                self.last_failed.append(i)
        names = [
            n
            for n in ("input_ids", "token_type_ids", "position_ids",
                      "attention_mask")
            if n in encs[0]
        ]
        width = max(len(e["input_ids"]) for e in encs)
        feeds = {
            name: np.asarray(
                [list(e[name]) + [0] * (width - len(e[name])) for e in encs],
                dtype=np.int64,
            )
            for name in names
        }
        start_probs, end_probs = self.session.run(None, feeds)
        out = []
        failed = set(self.last_failed)
        for i, ((content, _prompt), enc) in enumerate(zip(items, encs)):
            if i in failed:
                # reference parity: result_list = [] for the fallback row
                # (its decoded spans would map into "無文本", not content)
                out.append([])
                continue
            adjusted, drift = drift_offsets(enc["offset_mapping"])
            spans = []
            for ts, te, prob in decode_spans(start_probs[i], end_probs[i], limit):
                # Batched==unbatched parity invariant: padding is strictly
                # TRAILING, and any decoded pointer touching a pad (or
                # special/truncated) position falls outside this row's
                # offset map and is dropped by the bound check below. Real
                # pointer heads give NO guarantee that attention-masked
                # positions score ~0, so this guard is load-bearing — do
                # not remove it on the assumption that pad probs are zero.
                if ts >= len(adjusted) or te >= len(adjusted):
                    continue
                s_char, e_char = spans_from_token_ids(ts, te, adjusted, drift)
                if 0 <= s_char < e_char <= len(content):
                    spans.append((s_char, e_char, prob))
            out.append(spans)
        return out


class OnnxEncoder(UIEOnnxScorer):  # pragma: no cover - libs absent here
    """UIEOnnxScorer wired to onnxruntime + a HF fast tokenizer.

    Loaded lazily once per Python worker (get_encoder cache)."""

    def __init__(self, model_path: str, tokenizer_name: str = "bert-base-chinese",
                 max_seq_len: int = 512):
        try:
            import onnxruntime
            from transformers import AutoTokenizer
        except ImportError as exc:
            raise NotImplementedError(
                "onnxruntime/transformers not installed in this environment; "
                "use StubEncoder or install the serving extras"
            ) from exc

        session = onnxruntime.InferenceSession(model_path)
        hf = AutoTokenizer.from_pretrained(tokenizer_name, use_fast=True)

        def tokenize(prompt: str, content: str):
            enc = hf(
                prompt,
                content,
                truncation=True,
                max_length=max_seq_len,
                padding="max_length",
                return_offsets_mapping=True,
                return_token_type_ids=True,
                return_attention_mask=True,
            )
            enc["position_ids"] = list(range(len(enc["input_ids"])))
            return enc

        super().__init__(session, tokenize, max_seq_len)


_ENCODER_CACHE: dict = {}


def get_encoder(kind: str, prompts: Sequence[str], model_path: str | None = None,
                max_seq_len: int = 512):
    """Per-worker encoder singleton (one model load per executor)."""
    key = (kind, tuple(prompts), model_path, max_seq_len)
    if key not in _ENCODER_CACHE:
        if kind == "stub":
            _ENCODER_CACHE[key] = StubEncoder(prompts)
        elif kind == "onnx":
            _ENCODER_CACHE[key] = OnnxEncoder(model_path, max_seq_len=max_seq_len)
        else:
            raise ValueError(f"unknown encoder kind {kind!r}")
    return _ENCODER_CACHE[key]


EXTRACTION_COLUMNS = [
    "doc_id",
    "chunk_idx",
    "chunk_start",
    "prompt",
    "span_text",
    "start",
    "end",
    "probability",
]

EXTRACTION_DDL = (
    "doc_id string, chunk_idx int, chunk_start int, prompt string, "
    "span_text string, start int, end int, probability double"
)


def quarantined_extractions(extractions):
    """The quarantine frame: (doc_id, chunk_idx, prompt) of chunks whose
    tokenization crashed (sentinel rows from ``_score_chunk_items``) —
    distinct, since a doc may quarantine under several prompts/chunks."""
    from pyspark.sql import functions as F

    return (
        extractions.filter(F.col("probability").isNull())
        .select("doc_id", "chunk_idx", "prompt")
        .distinct()
    )


def ok_extractions(extractions):
    """Drop quarantine sentinel rows (NULL probability) from an
    EXTRACTION_DDL frame."""
    from pyspark.sql import functions as F

    return extractions.filter(F.col("probability").isNotNull())


def _score_chunk_items(encoder, metas: List[tuple], limit: float,
                       serving_batch_size: int) -> List[tuple]:
    """metas = (doc_id, chunk_idx, chunk_start, content, prompt) rows ->
    decoded EXTRACTION_COLUMNS rows, scored through
    ``encoder.extract_batch`` in sub-batches of ``serving_batch_size``
    (one forward pass per sub-batch; one pass per Arrow batch whenever
    the batch fits).

    Chunks the encoder quarantined (tokenizer crash -> ``last_failed``,
    see ``UIEOnnxScorer.extract_batch``) emit a sentinel row with NULL
    span_text/probability and start = end = -1 — the same
    route-don't-lose pattern as ``make_chunk_udf``'s NULL chunks. Normal
    rows always carry a non-NULL probability, so
    ``quarantined_extractions`` / ``ok_extractions`` split the frame
    without schema changes, and the strict ``> threshold`` filter in the
    pipeline drops sentinels from results automatically (NULL compares
    to nothing)."""
    rows: List[tuple] = []
    for off in range(0, len(metas), serving_batch_size):
        sub = metas[off : off + serving_batch_size]
        span_lists = encoder.extract_batch(
            [(content, prompt) for _, _, _, content, prompt in sub], limit
        )
        for i in getattr(encoder, "last_failed", ()):
            doc_id, chunk_idx, chunk_start, _content, prompt = sub[i]
            rows.append(
                (doc_id, chunk_idx, chunk_start, prompt, None, -1, -1, None)
            )
        for (doc_id, chunk_idx, chunk_start, content, prompt), spans in zip(
            sub, span_lists
        ):
            for s, e_excl, prob in spans:
                rows.append(
                    (
                        doc_id,
                        chunk_idx,
                        chunk_start,
                        prompt,
                        content[s:e_excl],
                        chunk_start + s,
                        chunk_start + e_excl,
                        float(prob),
                    )
                )
    return rows


def make_extract_map(
    encoder_kind: str,
    prompts: Sequence[str],
    max_seq_len: int = 512,
    model_path: str | None = None,
    limit: float = 0.5,
    serving_batch_size: int = 64,
):
    """ONE Arrow crossing for prompt-expand + chunk + score + decode,
    and batched forward passes for the encoder.

    A modular plan (explode prompts -> chunk UDF -> score UDF) would
    ship each document's text 3× through Arrow and serialize the chunk
    list as a nested struct array — measured to dominate wall time over
    the actual scoring. Here the input is just (doc_id, text); prompts
    and windows are iterated inside the batch, all chunks of the Arrow
    batch are scored through ``extract_batch`` (padded+stacked, ≤1
    ``session.run`` per ``serving_batch_size`` chunks), and only
    decoded span rows come back out (the e2e test compares the result
    against the serial reference-style oracle).
    """
    from ..functions.chunking import chunk_content

    # configuration errors fail at plan time, not silently per document
    for p in prompts:
        if max_seq_len <= len(p) + 3:
            raise ValueError(
                f"max_seq_len={max_seq_len} too small for prompt {p!r}"
            )

    def extract_map(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pin_worker_threads()
        encoder = get_encoder(encoder_kind, prompts, model_path, max_seq_len)
        for pdf in batches:
            metas: List[tuple] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                for prompt in prompts:
                    # no gold spans here, so chunking cannot raise data
                    # errors (those exist only on the training path)
                    chunks = chunk_content(text, prompt, max_seq_len)
                    for chunk_idx, (chunk_start, content, _) in enumerate(chunks):
                        metas.append((doc_id, chunk_idx, chunk_start, content, prompt))
            rows = _score_chunk_items(encoder, metas, limit, serving_batch_size)
            yield pd.DataFrame(rows, columns=EXTRACTION_COLUMNS)

    return extract_map

