"""Connected components: the driver leg (union-find over the collected
symmetric edge table) and the distributed leg (iterative min-label
propagation) must be behavior-identical; durable (reliable checkpoint
into the caller's dir) vs local-block lineage truncation too; neither
writes shared Spark state; incremental merge must equal a full
recompute."""

import random
import warnings

import pytest
from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.operators import components as cc_mod
from information_extraction_for_chinese_nlp_spark.operators.components import (
    connected_components,
    merge_components,
)

# the symmetric edge count picks the leg (driver while
# n_sym <= _LOCAL_CC_LIMIT, the same constant bounds merge_components'
# probe); these limits put ANY graph on one leg
CC_LEGS = {"driver": 1 << 30, "distributed": -1}


def _on_leg(monkeypatch, leg):
    monkeypatch.setattr(cc_mod, "_LOCAL_CC_LIMIT", CC_LEGS[leg])


def _driver_calls(monkeypatch) -> list:
    """Record every call of the driver-side union-find."""
    calls = []
    real = cc_mod._local_components

    def spy(rows):
        calls.append(1)
        return real(rows)

    monkeypatch.setattr(cc_mod, "_local_components", spy)
    return calls


def _labels(df) -> list:
    return sorted(map(tuple, df.collect()))


EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"),
    ("g", "h"), ("h", "i"), ("i", "g"),
    ("x", "y"), ("y", "z"),
    ("lone1", "lone2"),
]


def test_durable_checkpoint_matches_local(spark, monkeypatch):
    # durable=True checkpoints into the dir the spark fixture set
    assert spark.sparkContext.getCheckpointDir() is not None
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    per_leg = []
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        local = _labels(connected_components(edges))
        durable = _labels(connected_components(edges, durable=True))
        assert durable == local, leg
        per_leg.append(durable)
    assert per_leg[0] == per_leg[1]
    comps = {}
    for node, comp in per_leg[0]:
        comps.setdefault(comp, set()).add(node)
    assert set(map(frozenset, comps.values())) == {
        frozenset("abc"), frozenset("def"), frozenset("ghi"),
        frozenset("xyz"), frozenset({"lone1", "lone2"}),
    }


def test_durable_without_checkpoint_dir_raises(spark, monkeypatch):
    """durable=True never picks a checkpoint dir itself: with none set
    it raises on every master, before any job runs."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        with pytest.raises(ValueError, match="checkpoint dir"):
            connected_components(edges, durable=True)


def test_no_shared_state_mutated(spark, monkeypatch):
    """connected_components (both legs, pointer_jump on and off, durable
    against a dir the caller set), merge_components (both folds) and the
    two callers that run CC, dedup_pipeline and build_kg, finish with
    every session-conf write and every checkpoint-dir write raising:
    their results depend on their inputs alone."""
    from pyspark import SparkContext
    from pyspark.sql.conf import RuntimeConfig

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        dedup_pipeline,
    )
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg

    assert spark.sparkContext.getCheckpointDir() is not None
    assert isinstance(spark.conf, RuntimeConfig)

    def forbidden(*args, **kwargs):
        raise AssertionError(f"shared Spark state written: {args[1:]}")

    for cls, name in ((RuntimeConfig, "set"), (RuntimeConfig, "unset"),
                      (SparkContext, "setCheckpointDir")):
        monkeypatch.setattr(cls, name, forbidden)

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    new = spark.createDataFrame(
        [("c", "d"), ("z", "q")], "src string, dst string")
    docs = spark.createDataFrame(
        [(i, "same same same text again") for i in range(4)]
        + [(10, "alpha beta gamma delta epsilon zeta"),
           (11, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    kg_edges = spark.createDataFrame(
        [("c1", "醫療費用", "98,532元", 0.5, "d1", 0, 7),
         ("c1", "醫療費用", "98532元", 0.5, "d2", 0, 6)],
        "subj string, pred string, obj string, prob double, "
        "doc_id string, start int, end int",
    )
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        prev = connected_components(edges)
        want = _labels(prev)
        for kwargs in ({"pointer_jump": True}, {"durable": True}):
            got = connected_components(edges, **kwargs)
            assert _labels(got) == want, (leg, kwargs)
        full = _labels(connected_components(edges.union(new)))
        assert _labels(merge_components(prev, new)) == full, leg
    # the callers, on the leg that used to scope session confs
    kept = dedup_pipeline(docs, n_bands=2, rows_per_band=2)
    assert {0, 10} <= {r.doc_id for r in kept.collect()}
    vertices, fused = build_kg(kg_edges)
    assert vertices.count() == 1 and fused.count() == 1


def test_merge_components_equals_full_recompute(spark, monkeypatch):
    """Folding a batch of new edges into a converged labeling via the
    contraction graph must equal CC over the full union — on a random
    graph covering merges (old component ∪ old component), extensions
    (old ∪ new node), brand-new chains, and untouched components; on
    both legs."""
    rnd = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(60)]
    all_edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(80)
    ]
    all_edges = [(a, b) for a, b in all_edges if a != b]
    old, new = all_edges[:50], all_edges[50:]
    old_df = spark.createDataFrame(old, "src string, dst string")
    new_df = spark.createDataFrame(new, "src string, dst string")

    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        prev = connected_components(old_df)
        merged = merge_components(prev, new_df)
        full = connected_components(old_df.union(new_df))
        assert _labels(merged) == _labels(full), leg


def test_merge_components_cases(spark, monkeypatch):
    """Deterministic micro-cases: merge two old components, extend one
    with a new node, add a disjoint new chain, leave one untouched."""
    old = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f"), ("x", "y")],
        "src string, dst string",
    )
    new = spark.createDataFrame(
        [
            ("b", "c"),      # merges {a,b} with {c,d} -> component 'a'
            ("f", "g"),      # extends {e,f} with new node g
            ("p", "q"),      # brand-new chain
            ("x", "x"),      # self-loop: must not disturb {x,y}
        ],
        "src string, dst string",
    )
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        prev = connected_components(old)
        got = {r.node: r.component for r in merge_components(prev, new).collect()}
        assert got == {
            "a": "a", "b": "a", "c": "a", "d": "a",
            "e": "e", "f": "e", "g": "e",
            "p": "p", "q": "p",
            "x": "x", "y": "x",
        }, leg

def test_merge_components_local_fold_parity(spark, monkeypatch):
    """The driver-side union-find fold (contraction graph within
    _LOCAL_CC_LIMIT) must produce the IDENTICAL labeling as the
    distributed fold and as a full recompute — same random graph as the
    recompute test, all three pairwise equal."""
    rnd = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(80)]
    all_edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(110)]
    old, new = all_edges[:70], all_edges[70:]
    old_df = spark.createDataFrame(old, "src string, dst string")
    new_df = spark.createDataFrame(new, "src string, dst string")

    prev = connected_components(
        old_df.filter("src != dst")
    ).localCheckpoint()
    full = _labels(connected_components(old_df.union(new_df)))
    calls = _driver_calls(monkeypatch)
    folds = {}
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        calls.clear()
        folds[leg] = _labels(merge_components(prev, new_df))
        assert bool(calls) == (leg == "driver"), leg
    assert folds["driver"] == folds["distributed"] == full


def test_merge_components_probe_fallback(spark, monkeypatch):
    """A limit smaller than the contraction graph must fall back to the
    distributed path (the limit-probe comes back full) and still
    produce the same labeling."""
    old = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f"), ("x", "y")],
        "src string, dst string",
    )
    prev = connected_components(old)
    new = spark.createDataFrame(
        [("b", "c"), ("f", "g"), ("p", "q")], "src string, dst string"
    )
    default = _labels(merge_components(prev, new))
    calls = _driver_calls(monkeypatch)
    monkeypatch.setattr(cc_mod, "_LOCAL_CC_LIMIT", 1)
    tiny = _labels(merge_components(prev, new))
    assert not calls
    assert tiny == default


def test_local_components_matches_distributed_semantics():
    """_local_components unit contract: min-member labeling, self-loop
    rows skipped, loop-only nodes never emitted."""
    from information_extraction_for_chinese_nlp_spark.operators.components import (
        _local_components,
    )

    got = dict(_local_components([
        ("b", "a"), ("c", "b"),       # chain -> min 'a'
        ("z", "z"),                   # loop-only node: not emitted
        ("m", "n"), ("n", "m"),       # duplicate/reversed edge
    ]))
    assert got == {"a": "a", "b": "a", "c": "a", "m": "m", "n": "m"}

    # long ids: numeric min, not lexicographic
    got2 = dict(_local_components([(10, 2), (2, 100)]))
    assert got2 == {2: 2, 10: 2, 100: 2}


def test_cc_leg_boundary(spark, monkeypatch):
    """A symmetric edge count equal to _LOCAL_CC_LIMIT takes the driver
    leg; one row more than the limit takes the distributed leg; the
    labels are the same."""
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    n_sym = 2 * len(EDGES)  # distinct, loop-free, no reversed duplicates
    calls = _driver_calls(monkeypatch)
    got = {}
    for limit, driver in ((n_sym, True), (n_sym - 1, False)):
        monkeypatch.setattr(cc_mod, "_LOCAL_CC_LIMIT", limit)
        calls.clear()
        got[driver] = _labels(connected_components(edges))
        assert bool(calls) == driver, limit
    assert got[True] == got[False]


def test_max_iter_exhaustion_warns(spark, monkeypatch):
    """max_iter bounds only the distributed loop: running out of rounds
    with labels still changing warns (rounds run, last changed count)
    instead of silently returning unconverged labels; the driver leg is
    exact whatever max_iter says."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "src long, dst long"
    )
    _on_leg(monkeypatch, "distributed")
    with pytest.warns(RuntimeWarning, match=r"3 rounds ran and \d+ labels"):
        unconverged = connected_components(path, max_iter=3).collect()
    assert {r.component for r in unconverged} != {0}

    _on_leg(monkeypatch, "driver")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        exact = connected_components(path, max_iter=3).collect()
    assert sorted(map(tuple, exact)) == [(i, 0) for i in range(60)]


def _oracle_components(rows) -> list:
    """Python reference: BFS over the loop-free, NULL-free undirected
    edges, each component labeled by its minimum node."""
    adj = {}
    for a, b in rows:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out, seen = [], set()
    for start in adj:
        if start in seen:
            continue
        comp, todo = [], [start]
        seen.add(start)
        while todo:
            n = todo.pop()
            comp.append(n)
            for m in adj[n] - seen:
                seen.add(m)
                todo.append(m)
        out += [(n, min(comp)) for n in comp]
    return sorted(out)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_cc_legs_match_python_oracle(spark, monkeypatch, id_type):
    """Random graphs with duplicate and reversed edges, self-loops and
    NULL endpoints: driver leg == distributed leg == a Python oracle.
    NULL endpoints and loop-only nodes never surface as nodes."""
    rnd = random.Random(11 if id_type == "long" else 12)
    ids = list(range(120)) if id_type == "long" else [f"v{i:03d}" for i in range(120)]
    linked, unlinked = ids[:100], ids[-7:]
    rows = [(rnd.choice(linked), rnd.choice(linked)) for _ in range(90)]
    rows += [(b, a) for a, b in rows[:20]] + rows[20:30]   # reversed + dups
    rows += [(v, v) for v in unlinked[2:]]                 # loop-only nodes
    rows += [(rows[0][0], rows[0][0])]                     # loop on a linked node
    rows += [(None, unlinked[0]), (unlinked[1], None), (None, None)]
    rnd.shuffle(rows)
    edges = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")

    want = _oracle_components(rows)
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        got = _labels(connected_components(edges))
        assert got == want, leg
        nodes = {n for n, _ in got}
        assert None not in nodes and not nodes & set(unlinked), leg


def test_cc_reads_edges_once(spark, monkeypatch):
    """The symmetric edge table is built from ONE read of the input:
    a row-counting mapInPandas upstream of connected_components sees
    every input row once, not once per direction."""
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    upstream = edges.mapInPandas(count_rows, edges.schema)
    for leg in CC_LEGS:
        _on_leg(monkeypatch, leg)
        before = seen.value
        labels = _labels(connected_components(upstream))
        assert len(labels) == 14, leg
        assert seen.value - before == len(EDGES), leg


# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
pytestmark = pytest.mark.slow


def test_loop_partitions_derived_from_edge_count(spark, monkeypatch):
    """An unhinted distributed round shuffles on ceil(|sym| /
    _LOOP_ROWS_PER_PARTITION) partitions, clamped to the session's
    shuffle.partitions, set on the frames alone: the session conf is
    unchanged and the labels equal the driver leg's."""
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    _on_leg(monkeypatch, "driver")
    driver = _labels(connected_components(edges))
    _on_leg(monkeypatch, "distributed")
    monkeypatch.setattr(cc_mod, "_BROADCAST_LABEL_LIMIT", 0)
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    n_sym = 2 * len(EDGES)
    for rows, want in ((5, -(-n_sym // 5)), (1, int(session_parts))):
        monkeypatch.setattr(cc_mod, "_LOOP_ROWS_PER_PARTITION", rows)
        for pj in (False, True):
            labels = connected_components(edges, pointer_jump=pj)
            assert labels.rdd.getNumPartitions() == want, (rows, pj)
            assert _labels(labels) == driver, (rows, pj)
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_parts


def test_broadcast_label_hint_parity(spark, monkeypatch):
    """Under _BROADCAST_LABEL_LIMIT the distributed leg's per-round label
    join carries a broadcast hint (edge table never exchanged). Hinted
    and unhinted labelings must be identical, pointer_jump on and off,
    and equal to the driver leg's."""
    edges = spark.range(3000).select(
        F.pmod(F.xxhash64("id"), 500).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(7)), 500).alias("dst"),
    )
    _on_leg(monkeypatch, "driver")
    driver = _labels(connected_components(edges))
    _on_leg(monkeypatch, "distributed")
    for pj in (False, True):
        hinted = _labels(connected_components(edges, pointer_jump=pj))
        with monkeypatch.context() as m:
            m.setattr(cc_mod, "_BROADCAST_LABEL_LIMIT", 0)
            plain = _labels(connected_components(edges, pointer_jump=pj))
        assert hinted == plain == driver, pj


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local_relation(df):
    plan = _optimized_plan(df)
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan


_LONG_ID = "長" * 300
# string ids with CJK text and long ids, bigint ids at both ends of the
# range, and no edges at all
LABEL_CASES = {
    "cjk_strings": ("string", [
        ("醫療費用", "九萬八千元"), ("九萬八千元", "98,532元"),
        ("慰撫金", "精神慰撫金額"), (_LONG_ID, _LONG_ID + "元"),
        (_LONG_ID + "元", "醫療費用"), ("薪資", "薪資"),
    ]),
    "bigint": ("long", [
        (2**63 - 1, 2**62), (-(2**63), 2**62), (7, 8), (8, 9), (5, 5),
    ]),
    "empty": ("string", []),
}


@pytest.mark.parametrize("case", sorted(LABEL_CASES))
def test_driver_leg_labels_are_a_local_relation(spark, monkeypatch, case):
    """The driver leg's labels are built from an Arrow table: the
    optimized plan is a LocalRelation (a pickled LogicalRDD would start
    Python workers in every job that reads the labels), and the rows
    equal _local_components on the same edges, id values unchanged."""
    from information_extraction_for_chinese_nlp_spark.session import local_frame

    id_type, rows = LABEL_CASES[case]
    edges = local_frame(spark, rows, f"src {id_type}, dst {id_type}")
    _on_leg(monkeypatch, "driver")
    labels = connected_components(edges)
    _assert_local_relation(labels)
    assert _labels(labels) == sorted(cc_mod._local_components(rows))
    assert [f.dataType for f in labels.schema] == [edges.schema["src"].dataType] * 2


@pytest.mark.parametrize("case", sorted(LABEL_CASES))
def test_merge_relabel_map_is_a_local_relation(spark, monkeypatch, case):
    """merge_components' driver fold broadcasts a relabel map built from
    an Arrow table: a LocalRelation equal to _local_components of the
    probed contraction edges; over local-frame inputs no LogicalRDD
    appears anywhere in the merged plan, and the merge equals a full
    recompute."""
    from information_extraction_for_chinese_nlp_spark.session import local_frame

    id_type, rows = LABEL_CASES[case]
    schema = f"src {id_type}, dst {id_type}"
    old, new = rows[: len(rows) // 2], rows[len(rows) // 2:]
    old_df, new_df = local_frame(spark, old, schema), local_frame(spark, new, schema)
    maps = []
    real = cc_mod._driver_labels

    def spy(spark_, edge_rows, *args):
        out = real(spark_, edge_rows, *args)
        maps.append((edge_rows, out))
        return out

    monkeypatch.setattr(cc_mod, "_driver_labels", spy)
    prev = connected_components(old_df)
    maps.clear()
    merged = merge_components(prev, new_df)
    assert len(maps) == 1
    probe, relabel = maps[0]
    _assert_local_relation(relabel)
    assert relabel.columns == ["_key", "_new"]
    assert _labels(relabel) == sorted(cc_mod._local_components(probe))
    assert "LogicalRDD" not in _optimized_plan(merged)
    assert _labels(merged) == _labels(connected_components(old_df.union(new_df)))
