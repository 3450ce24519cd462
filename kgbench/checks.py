"""Output checks, one per workload, as pure functions over plain rows.

Each returns a list of problems; an empty list means the output is
correct. They take collected rows (tuples or dicts), never DataFrames,
so the benchmark's own tests can feed them deliberately corrupted
outputs without a Spark session.
"""

from __future__ import annotations

import re
from collections import Counter


def _diff(kind: str, got: Counter, want: Counter, limit: int = 3) -> list[str]:
    missing = list((want - got).elements())[:limit]
    extra = list((got - want).elements())[:limit]
    out = []
    if missing:
        out.append(f"{kind}: {sum((want - got).values())} missing, e.g. {missing}")
    if extra:
        out.append(f"{kind}: {sum((got - want).values())} unexpected, e.g. {extra}")
    return out


def check_spans(got, want) -> list[str]:
    """kg_batch: extracted (doc_id, prompt, start, end) spans on the
    sampled conversations equal the serial oracle's, i.e. P = R = 1.0."""
    if not want:
        return ["span oracle is empty: the sample has no mentions"]
    return _diff("spans", Counter(map(tuple, got)), Counter(map(tuple, want)))


def check_kg_tables(vertices, fused) -> list[str]:
    """kg_batch: the written tables are non-empty and every fused fact
    points at a written vertex."""
    ids = {v["entity_id"] for v in vertices}
    problems = []
    if not vertices or not fused:
        problems.append(f"empty output: {len(vertices)} vertices, {len(fused)} facts")
    dangling = [f["entity_id"] for f in fused if f["entity_id"] not in ids]
    if dangling:
        problems.append(f"{len(dangling)} facts reference unknown entities")
    return problems


def check_resume(edges, want_edges, acks, n_buckets: int) -> list[str]:
    """kg_resume: the final edge table equals an uninterrupted run as a
    multiset (rows without their snapshot id), and every bucket is acked
    exactly once."""
    problems = _diff("edges", Counter(map(tuple, edges)),
                     Counter(map(tuple, want_edges)))
    counts = Counter(acks)
    wrong = {b: counts.get(b, 0) for b in range(n_buckets) if counts.get(b, 0) != 1}
    if wrong or set(counts) - set(range(n_buckets)):
        problems.append(f"buckets not acked exactly once: {wrong or dict(counts)}")
    return problems


def check_kg_equal(got_vertices, got_fused, want_vertices, want_fused,
                   tol: float = 1e-9) -> list[str]:
    """kg_resume, kg_stream: the written vertex and fused-fact tables equal
    batch build_kg over the reference edges (kg_resume: the uninterrupted
    run's; kg_stream: the concatenated micro-batches)."""
    def vkey(v):
        return v["entity_id"], v["canonical_text"], v["type"], v["n_mentions"]

    def fkey(f):
        return (f["subj"], f["pred"], f["entity_id"], f["canonical_text"],
                f["n_mentions"], f["n_docs"], f["max_prob"], f["first_doc"])

    problems = _diff("vertices", Counter(map(vkey, got_vertices)),
                     Counter(map(vkey, want_vertices)))
    problems += _diff("facts", Counter(map(fkey, got_fused)),
                      Counter(map(fkey, want_fused)))
    want_p = {fkey(f)[:3]: f["fused_prob"] for f in want_fused}
    off = [k for f in got_fused
           if abs(f["fused_prob"] - want_p.get(k := fkey(f)[:3], float("inf"))) > tol]
    if off:
        problems.append(f"{len(off)} facts with fused_prob off, e.g. {off[:3]}")
    return problems


def word_ngrams(text: str, n: int) -> set[str]:
    """Strict word n-grams over single-space tokens, the decontamination
    rule's tokenization (short texts have none)."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def check_curated(out_rows, in_ids, eval_texts, pii_tokens, n: int = 8) -> list[str]:
    """corpus_curate: output ids are a unique subset of the input ids, and
    no exact-duplicate text, eval-set n-gram or planted PII token
    survives."""
    problems = []
    if not out_rows:
        return ["empty output"]
    ids = Counter(r["doc_id"] for r in out_rows)
    dup_ids = [i for i, c in ids.items() if c > 1]
    if dup_ids:
        problems.append(f"{len(dup_ids)} duplicated ids, e.g. {dup_ids[:3]}")
    unknown = set(ids) - set(in_ids)
    if unknown:
        problems.append(f"{len(unknown)} ids not in the input")
    texts = Counter(r["text"] for r in out_rows)
    dups = [t for t, c in texts.items() if c > 1]
    if dups:
        problems.append(f"{len(dups)} exact-duplicate texts survive")
    grams = set().union(*(word_ngrams(t, n) for t in eval_texts))
    contaminated = [r["doc_id"] for r in out_rows if word_ngrams(r["text"], n) & grams]
    if contaminated:
        problems.append(f"{len(contaminated)} docs share an eval {n}-gram")
    if pii_tokens:
        pii = re.compile("|".join(map(re.escape, pii_tokens)))
        leaked = [r["doc_id"] for r in out_rows if pii.search(r["text"])]
        if leaked:
            problems.append(f"{len(leaked)} docs still carry planted PII")
    return problems
