"""Record the operator trees of the two benchmarked paths.

    python scripts/plan_trees.py curate_corpus plans/curate_corpus/change.txt
    python scripts/plan_trees.py build_kg plans/build_kg/change.txt

``curate_corpus`` is one ``curate()`` call with kgbench's corpus_curate
recipe; ``build_kg`` is ``build_kg`` over the kg_resume inputs' edges
(``extract_triples`` output, read back from parquet as the resumed job
reads its edge table). Inputs are kgbench's seed-1 generators. The
record holds the ``explain('formatted')`` operator tree (node details
trimmed) of every ``localCheckpoint`` input in call order, then of each
final frame. Run it on two trees and diff the files: an empty diff
means the path plans the same physical operators on both.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from information_extraction_for_chinese_nlp_spark.session import get_spark  # noqa: E402
from kgbench import inputs  # noqa: E402
from kgbench.workloads import CorpusCurate, KgBatch  # noqa: E402

HEADERS = {
    "curate_corpus": "curate() with the kgbench corpus_curate recipe (seed 1)",
    "build_kg": "build_kg() over the kgbench kg_resume edges (seed 1)",
}


def tree(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    lines = buf.getvalue().splitlines()
    return "\n".join(lines[:lines.index("")] if "" in lines else lines)


def curate_corpus(spark, tmp):
    from information_extraction_for_chinese_nlp_spark.operators.curation import curate

    tables, _ = inputs.corpus(1, CorpusCurate.N_DOCS)
    for name, t in tables.items():
        os.makedirs(f"{tmp}/{name}")
        pq.write_table(t, f"{tmp}/{name}/part-0.parquet")
    docs = spark.read.parquet(f"{tmp}/docs")
    eval_docs = spark.read.parquet(f"{tmp}/eval")
    return [curate(docs, eval_docs=eval_docs, **CorpusCurate.RECIPE)]


def build_kg(spark, tmp):
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )

    table, _ = inputs.transcripts(1, KgBatch.N_CONVS)
    os.makedirs(f"{tmp}/in")
    pq.write_table(table, f"{tmp}/in/part-0.parquet")
    extract_triples(spark.read.parquet(f"{tmp}/in")).write.parquet(f"{tmp}/edges")
    return list(build_kg(spark.read.parquet(f"{tmp}/edges")))


def main(path: str, out: str) -> None:
    spark = get_spark("plan-trees", master="local[4]")
    plans = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(tree(self))
        return local_checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        with tempfile.TemporaryDirectory() as tmp:
            frames = {"curate_corpus": curate_corpus, "build_kg": build_kg}[path](
                spark, tmp)
            n_checkpoints = len(plans)
            plans += [tree(frame) for frame in frames]
    finally:
        DataFrame.localCheckpoint = local_checkpoint
        spark.stop()
    text = [f"explain('formatted') operator trees of {HEADERS[path]}.\n"
            "One per localCheckpoint input, in call order, then each final\n"
            "frame. Node details trimmed.\n"]
    for i, plan in enumerate(plans):
        what = (f"input of localCheckpoint #{i}" if i < n_checkpoints
                else f"final frame #{i - n_checkpoints}")
        text.append(f"-- plan {i} ({what})\n{plan}\n")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        f.write("\n".join(text))


if __name__ == "__main__":
    main(*sys.argv[1:3])
