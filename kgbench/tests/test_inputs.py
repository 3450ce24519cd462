"""The generators are seeded: same seed, same bytes; another seed, other
inputs; the stated property shares are present."""

from kgbench import inputs


def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a.equals(b)


def test_transcripts_seeded():
    a, pa_ = inputs.transcripts(7, 120)
    b, pb = inputs.transcripts(7, 120)
    c, _ = inputs.transcripts(8, 120)
    assert _same(a, b) and pa_ == pb
    assert not a.equals(c)


def test_transcripts_properties():
    table, props = inputs.transcripts(3, 400)
    assert props["turns"] == table.num_rows
    assert props["median_conv_turns"] == 12
    # about one conversation in 40 is >= 20x the median: a third of turns
    assert 0.2 < props["long_conv_turn_share"] < 0.6
    assert 0.1 < props["malformed_surface_share"] < 0.2


def test_malformed_surfaces_do_not_normalize():
    from information_extraction_for_chinese_nlp_spark.functions.money import (
        normalize_money,
    )

    import random

    fam = inputs._malformed_family(random.Random(0))
    assert all(normalize_money(s) == "nan" for s in fam)
    assert all(normalize_money(s) != "nan" for s in inputs._MONEY_OK)


def test_edge_batches_seeded():
    a, pa_ = inputs.edge_batches(5, 6, 50)
    b, pb = inputs.edge_batches(5, 6, 50)
    c, _ = inputs.edge_batches(6, 6, 50)
    assert _same(a, b) and pa_ == pb
    assert not _same(a, c)
    assert pa_["bridging_surface_share"] > 0 and pa_["raw_surface_share"] > 0.2


def test_corpus_seeded():
    a, pa_ = inputs.corpus(9, 300)
    b, pb = inputs.corpus(9, 300)
    c, _ = inputs.corpus(10, 300)
    assert _same(a, b) and pa_ == pb
    assert not a["docs"].equals(c["docs"])
    assert 0.25 < pa_["hot_template_share"] < 0.45
    assert 0.3 < pa_["boilerplate_share"] < 0.5
    assert pa_["pii"] and pa_["contaminated_share"] > 0
