"""Every output check passes on a correct output and fails on a
deliberately corrupted one."""

import pytest

from kgbench import checks
from kgbench.run import tail


SPANS = [("c1", "醫療費用", 3, 10), ("c1", "薪資收入", 20, 26), ("c2", "醫療費用", 0, 6)]


def test_spans_check():
    assert checks.check_spans(list(SPANS), SPANS) == []
    assert checks.check_spans(SPANS[:-1], SPANS)  # a span lost: R < 1
    assert checks.check_spans(SPANS + [("c2", "醫療費用", 1, 6)], SPANS)  # P < 1


EDGES = [("c1", "醫療費用", "98,532元", 0.7, "c1", 3, 10),
         ("c1", "醫療費用", "98,532元", 0.7, "c1", 3, 10),
         ("c2", "薪資收入", "八萬元", 0.6, "c2", 0, 3)]


def test_resume_check():
    acks = list(range(8))
    assert checks.check_resume(list(EDGES), EDGES, acks, 8) == []
    # one edge row dropped (the multiset notices a lost duplicate)
    assert checks.check_resume(EDGES[1:], EDGES, acks, 8)
    # one bucket duplicated: acked twice
    assert checks.check_resume(EDGES, EDGES, acks + [3], 8)
    # one bucket never acked
    assert checks.check_resume(EDGES, EDGES, acks[1:], 8)


def _kg():
    vertices = [{"entity_id": "e1", "canonical_text": "98,532元", "type": "醫療費用",
                 "n_mentions": 2}]
    fused = [{"subj": "c1", "pred": "醫療費用", "entity_id": "e1",
              "canonical_text": "98,532元", "fused_prob": 0.91, "n_mentions": 2,
              "n_docs": 2, "max_prob": 0.7, "first_doc": "d1"}]
    return vertices, fused


def test_kg_equal_check():
    want_v, want_f = _kg()
    got_v, got_f = _kg()
    assert checks.check_kg_equal(got_v, got_f, want_v, want_f) == []
    got_f[0]["fused_prob"] += 1e-6  # one fused prob perturbed
    assert checks.check_kg_equal(got_v, got_f, want_v, want_f)
    got_v, got_f = _kg()
    got_v[0]["n_mentions"] = 3
    assert checks.check_kg_equal(got_v, got_f, want_v, want_f)


EVAL = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"]
IDS = ["d1", "d2", "d3"]


def _curated():
    return [{"doc_id": "d1", "text": "the data model of the city is in the paper"},
            {"doc_id": "d2", "text": "a river and a mountain near the harbor <EMAIL>"}]


def test_curate_check():
    assert checks.check_curated(_curated(), IDS, EVAL, ["bob@mail.example.com"]) == []


@pytest.mark.parametrize("corrupt", [
    # one hot duplicate left in: same text under another input id
    lambda rows: rows.append({"doc_id": "d3", "text": rows[0]["text"]}),
    # the same id twice
    lambda rows: rows.append(dict(rows[0])),
    # an id that was never in the input
    lambda rows: rows.append({"doc_id": "x9", "text": "fresh text"}),
    # an eval 8-gram survives
    lambda rows: rows.append({"doc_id": "d3", "text": "x " + EVAL[0]}),
    # planted PII survives
    lambda rows: rows.append({"doc_id": "d3", "text": "mail bob@mail.example.com"}),
])
def test_curate_check_catches(corrupt):
    rows = _curated()
    corrupt(rows)
    assert checks.check_curated(rows, IDS, EVAL, ["bob@mail.example.com"])


def test_tail_needs_ten_beyond():
    assert tail([1.0] * 10) == (None, None, 0)
    value, pct, beyond = tail([float(i) for i in range(1, 21)])
    assert (pct, beyond) == (50, 10) and value == 10.0
    value, pct, beyond = tail([float(i) for i in range(1, 201)])
    assert (pct, beyond) == (95, 10) and value == 190.0
