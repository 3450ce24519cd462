"""Round-8 optimization harness (guide §1): per-query isolation,
noop-sink timing, and ``explain("formatted")`` capture for the bench
queries — WITHOUT touching the frozen ``bench.py``.

Usage:
    python bench_extra.py q10_cc_full q12_pagerank_2m --iters 3
    python bench_extra.py --explain q10_cc_full --out plans/r08/q10_cc_full_before.txt
    python bench_extra.py --all --iters 3

Timing methodology matches bench.py exactly (same fixtures, same
action, min-of-k on the co-tenant sandbox); ``--noop`` swaps the
count() action for a noop sink write so column pruning cannot hide
work (guide §1.4). Explain output is the pre-execution plan
(AdaptiveSparkPlan isFinalPlan=false) — the shape evidence the round
deliverables require.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen; reused, never edited)

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def build_frames(spark):
    """name -> zero-arg DataFrame builder for every bench key (mirrors
    bench.build_queries; frames returned lazily so explain() shows the
    exact plan the timed action executes)."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash,
        simhash_near_pairs,
    )
    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_search,
        ivf_topk,
        matmul_topk,
    )
    from information_extraction_for_chinese_nlp_spark.operators.textstats import (
        quality_features,
        repetition_features,
    )
    from information_extraction_for_chinese_nlp_spark.operators.centrality import (
        pagerank,
    )
    from information_extraction_for_chinese_nlp_spark.operators.curation import (
        curate,
    )
    from information_extraction_for_chinese_nlp_spark.plans.graph import (
        build_graph,
        build_kg,
    )
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
        transcripts_from_documents,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    transcripts = synth_transcripts(
        spark, n_convs=bench.N_CONVS, turns_per_conv=bench.TURNS,
        long_conv_every=100, long_conv_turns=500,
    )
    queries = emb.filter(F.col("vec_id") < 100)
    cc_state = bench._cc_setup(spark)
    ivf_state = bench._ivf_setup(emb)
    ld_docs = bench._line_dedup_fixture(spark, n_docs=20_000, n_hot=100_000)

    def graph_edges():
        return extract_triples(
            transcripts_from_documents(docs)
        ).localCheckpoint(eager=False)

    def q7():
        vertices, canonical = build_graph(graph_edges())
        return vertices, canonical

    def q7b():
        vertices, fused = build_kg(graph_edges())
        return vertices, fused

    def linker_frames(scorer):
        aliases = spark.range(2000).select(
            F.concat(F.format_string("%d", F.col("id") * 137 + 1000), F.lit("元")).alias("alias"),
            F.concat(F.lit("E"), F.col("id")).alias("canonical_id"),
            F.concat(F.lit("醫療費用#"), (F.col("id") * 137 + 1000).cast("string")).alias("block_key"),
        )
        mentions = spark.range(200_000).select(
            F.concat(F.lit("m"), F.col("id")).alias("mention_id"),
            F.lit("醫療費用").alias("pred"),
            F.concat(
                F.format_string("%,d", (F.col("id") % 2000) * 137 + 1000), F.lit("元")
            ).alias("obj"),
        )
        return link_entities(mentions, aliases, scorer=scorer, threshold=0.3)

    def pagerank_frame():
        n_edges, n_nodes, n_hubs = 2_000_000, 200_000, 100
        edges = spark.range(n_edges).select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("src"),
            F.when(
                F.col("id") % 10 == 0, F.pmod(F.col("id"), F.lit(n_hubs))
            )
            .otherwise(F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_nodes)))
            .alias("dst"),
        )
        ring = spark.range(n_nodes).select(
            F.col("id").alias("src"),
            ((F.col("id") + 1) % n_nodes).alias("dst"),
        )
        return pagerank(edges.unionByName(ring), max_iter=3)

    def dataprep_frame():
        eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        return curate(
            docs, eval_docs=eval_docs, decontam_n=8, min_quality=0.2,
            sample_fractions={}, default_fraction=0.5,
            n_bands=2, rows_per_band=2, max_bucket=1000,
        )

    def line_dedup_frame():
        from pyspark.sql import functions as F2

        return line_dedup(ld_docs, min_df=3).agg(
            F2.sum(F2.length("text")), F2.sum("n_dropped").alias("nd")
        )

    return {
        "q1_triples": lambda: extract_triples(transcripts),
        "q2_dedup_minhash": lambda: minhash_lsh_pairs(
            docs, n_bands=2, rows_per_band=2, max_bucket=1000
        ),
        "q2c_minhash_vec_b16r4": lambda: minhash_lsh_pairs(
            docs, n_bands=16, rows_per_band=4, max_bucket=1000
        ),
        "q3_ngram_jaccard": lambda: ngram_jaccard_pairs(
            docs, n=3, threshold=0.1, max_df=100
        ),
        "q4_simhash": lambda: simhash(docs),
        "q4b_simhash_pairs": lambda: simhash_near_pairs(
            docs, max_hamming=3, max_bucket=1000
        ),
        "q4c_simhash64_vec": lambda: simhash_near_pairs(
            docs, n_bits=64, n_bands=8, max_hamming=7, max_bucket=1000
        ),
        "q5_bruteforce_topk": lambda: brute_force_topk(emb, queries, k=10),
        "q5d_matmul_topk": lambda: matmul_topk(emb, queries, k=10),
        "q5b_lsh_ann": lambda: ann_topk(
            emb, queries, k=10, n_planes=6, max_hamming=1
        ),
        "q5c_ivf_ann": lambda: ivf_topk(
            emb, queries, k=10, n_cells=16, n_probe=4
        ),
        "q5c2_ivf_search_only": lambda: ivf_search(
            ivf_state["assigned"], ivf_state["centroids"], queries,
            k=10, n_probe=4,
        ),
        "q5c3_ivf_sampled_fit": lambda: ivf_topk(
            emb, queries, k=10, n_cells=16, n_probe=4, fit_fraction=0.1
        ),
        "q6_quality": lambda: quality_features(docs),
        "q6b_repetition": lambda: repetition_features(docs),
        "q7_graph": q7,
        "q7b_kg_fused": q7b,
        "q8_dataprep": dataprep_frame,
        "q9_linker_tfidf": lambda: linker_frames("tfidf"),
        "q9b_linker_tfidf_dist": lambda: linker_frames("tfidf_distributed"),
        "q10_cc_full": lambda: bench._cc_full(spark, cc_state),
        "q10b_cc_incremental": lambda: bench._cc_incremental(cc_state),
        "q11_line_dedup_hot1e5": line_dedup_frame,
        "q12_pagerank_2m": pagerank_frame,
    }


def _run_once(built, noop: bool) -> None:
    frames = built if isinstance(built, tuple) else (built,)
    for df in frames:
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()


def main() -> None:
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    args = sys.argv[1:]
    noop = "--noop" in args
    iters = 3
    if "--iters" in args:
        iters = int(args[args.index("--iters") + 1])
    out = None
    if "--out" in args:
        out = args[args.index("--out") + 1]
    explain_key = None
    if "--explain" in args:
        explain_key = args[args.index("--explain") + 1]

    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    frames = build_frames(spark)

    if "--list" in args:
        print("\n".join(frames))
        return

    if explain_key is not None:
        import contextlib
        import io

        if explain_key not in frames:
            spark.stop()
            raise SystemExit(
                f"unknown --explain key {explain_key!r}; valid keys: "
                + ", ".join(frames)
            )
        built = frames[explain_key]()
        parts = built if isinstance(built, tuple) else (built,)
        chunks = []
        for i, p in enumerate(parts):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                p.explain("formatted")
            chunks.append(f"-- output {i}:\n" + buf.getvalue())
        text = "\n\n".join(chunks)
        if out:
            if os.path.dirname(out):
                os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                f.write(text)
            print(f"wrote {out}")
        else:
            print(text)
        spark.stop()
        return

    keys = [a for a in args if not a.startswith("--") and a in frames]
    if "--all" in args:
        keys = list(frames)
    for key in keys:
        spark.sparkContext.setJobDescription(key)
        best = float("inf")
        samples = []
        for _ in range(iters):
            t0 = time.time()
            _run_once(frames[key](), noop)
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        print(json.dumps({"key": key, "sec": round(best, 3),
                          "samples": samples, "noop": noop}))
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
