"""session.local_frame: driver-side rows become a LocalRelation (no
pickled LogicalRDD, so no Python worker runs when the frame is read),
values round-trip exactly, and library code builds every driver-side
frame through it."""

import ast
import math
import pathlib

import pytest
from pyspark.sql import types as T

import information_extraction_for_chinese_nlp_spark as pkg
from information_extraction_for_chinese_nlp_spark.session import local_frame


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_no_pickled_rows(df):
    plan = _optimized_plan(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


ROWS = [
    (1, 2**63 - 1, "醫療費用98,532元", 0.5, [1.0, -2.5]),
    (None, -(2**63), "長" * 500, math.inf, []),
    (-3, None, None, None, None),
]
DDL = "i int, l bigint, s string, d double, v array<double>"


@pytest.mark.parametrize("schema", [DDL, "struct"])
def test_rows_round_trip_as_a_local_relation(spark, schema):
    if schema == "struct":
        schema = T.StructType.fromDDL(DDL)
    df = local_frame(spark, ROWS, schema)
    _assert_no_pickled_rows(df)
    assert df.schema == T.StructType.fromDDL(DDL)
    assert [tuple(r) for r in df.collect()] == ROWS


def test_empty_rows_keep_the_schema(spark):
    df = local_frame(spark, [], DDL)
    _assert_no_pickled_rows(df)
    assert df.schema == T.StructType.fromDDL(DDL)
    assert df.collect() == []


def test_threshold_grid_is_a_local_relation(spark):
    """threshold_sweep joins its grid on every action; over local-frame
    inputs no LogicalRDD is left in its plan."""
    from information_extraction_for_chinese_nlp_spark.operators.evaluation import (
        threshold_sweep,
    )

    keys = "doc_id string, prompt string, start int, end int"
    pred = local_frame(spark, [("d1", "A", 0, 3, 0.9), ("d1", "B", 5, 9, 0.45)],
                       keys + ", probability double")
    gold = local_frame(spark, [("d1", "A", 0, 3)], keys)
    out = threshold_sweep(pred, gold, thresholds=(0.4, 0.5))
    assert "LogicalRDD" not in _optimized_plan(out)
    got = {r.threshold: (r.num_infer, r.num_correct) for r in out.collect()}
    assert got == {0.4: (2, 1), 0.5: (1, 1)}


def test_saved_ivf_centroids_are_a_local_relation(spark):
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        save_ivf_index,
    )

    written = {}

    class RecordingIO:
        def write(self, df, table, mode="overwrite"):
            written[table] = df

    centroids = [[0.25, -1.0], [3.0, 0.5]]
    save_ivf_index(RecordingIO(), spark.range(2), centroids, name="ivf")
    cents = written["ivf_centroids"]
    _assert_no_pickled_rows(cents)
    assert [tuple(r) for r in cents.collect()] == [(0, centroids[0]), (1, centroids[1])]


def _direct_create_dataframe_calls():
    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith("plans/queries_"):
            continue  # the gate fixtures are the driver contract
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                hits.append(f"{rel}:{node.lineno}")
    return hits


def test_library_builds_driver_frames_through_local_frame():
    """No library module outside the gate fixtures calls createDataFrame
    itself: driver-side rows go through session.local_frame, whose one
    call hands Spark an Arrow table."""
    hits = _direct_create_dataframe_calls()
    assert len(hits) == 1 and hits[0].startswith("session.py:"), hits
