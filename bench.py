"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline set = the flagship KG pipeline over synthetic transcripts
(~100k turns; long-conversation skew included) plus the heavy dataprep
operators over the sf tables. `value` is total wall seconds across the
headline queries; extra keys report turns/sec for the pipeline.

Scaling evidence (north_rule: efficiency >= 0.8 from N to 4N): run
``python bench.py --scaling`` — executes the full pipeline at
local[SCALING_LEVELS[0]] and local[SCALING_LEVELS[1]] (N and 4N cores)
in fresh subprocesses on identical input, min-of-k per level, and
appends throughputs + the efficiency ratio to BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# module-level on purpose: function-local pandas + postponed annotations
# breaks @pandas_udf typehint inference (see _sf1_cipher_udf)
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CONVS = int(os.environ.get("BENCH_CONVS", "4000"))
TURNS = int(os.environ.get("BENCH_TURNS", "24"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def build_frames(spark):
    """name -> zero-arg builder of the lazy DataFrame (or tuple of
    DataFrames) each bench key times; ``force`` is the timed action.
    Fixtures (index, CC state, line-dedup corpus) are built here, once."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash,
        simhash_near_pairs,
    )
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_search,
        ivf_topk,
    )
    from information_extraction_for_chinese_nlp_spark.operators.textstats import (
        quality_features,
        repetition_features,
    )
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    transcripts = synth_transcripts(
        spark, n_convs=N_CONVS, turns_per_conv=TURNS,
        long_conv_every=100, long_conv_turns=500,
    )

    queries = emb.filter(F.col("vec_id") < 100)
    cc_state = _cc_setup(spark)
    ivf_state = _ivf_setup(emb)
    ld_docs = _line_dedup_fixture(spark, n_docs=20_000, n_hot=100_000)
    return {
        "q1_triples": lambda: extract_triples(transcripts),
        # banded LSH (b=2, r=2): same 4-hash budget as round 1, real
        # recall; max_bucket caps degenerate exact-dup clusters (one
        # sf0.1 cluster alone yields 7M of 7.5M pairs — dedup_exact's
        # job, not the near-dup detector's) — the setting a 100 TB run
        # needs, same story as q3's max_df
        "q2_dedup_minhash": lambda: minhash_lsh_pairs(
            docs, n_bands=2, rows_per_band=2, max_bucket=1000
        ),
        # the 100 TB signature budget (64 hashes, b=16×r=4): per-partition
        # md5 minima, shuffle input = n_bands rows/doc instead of
        # tokens×64 exploded rows
        "q2c_minhash_vec_b16r4": lambda: minhash_lsh_pairs(
            docs, n_bands=16, rows_per_band=4, max_bucket=1000
        ),
        # max_df caps hot shingles — the setting the 100 TB run needs
        # (an uncapped hot shingle contributes O(df²) candidate pairs)
        "q3_ngram_jaccard": lambda: ngram_jaccard_pairs(
            docs, n=3, threshold=0.1, max_df=100
        ),
        # summed, not count()ed: a count lets a relational fingerprint
        # plan prune its md5 + vote work, so it would time nothing
        "q4_simhash": lambda: simhash(docs).agg(F.sum("simhash")),
        # banded Hamming pairs (pigeonhole recall 1.0 at distance <= 3)
        "q4b_simhash_pairs": lambda: simhash_near_pairs(
            docs, max_hamming=3, max_bucket=1000
        ),
        # 64-bit fingerprints (memoized token bit-votes, no tokens×64
        # explode through the shuffle)
        "q4c_simhash64_vec": lambda: simhash_near_pairs(
            docs, n_bits=64, n_bands=8, max_hamming=7, max_bucket=1000
        ),
        # exact search: per-batch numpy matmul + local top-k, global
        # rank on the bounded candidate set
        "q5_bruteforce_topk": lambda: brute_force_topk(emb, queries, k=10),
        # the actual ANN scale paths, timed as headline queries
        "q5b_lsh_ann": lambda: ann_topk(
            emb, queries, k=10, n_planes=6, max_hamming=1
        ),
        "q5c_ivf_ann": lambda: ivf_topk(
            emb, queries, k=10, n_cells=16, n_probe=4
        ),
        # the steady-state IVF shape: the index builds ONCE (setup, like
        # a persisted TableIO index) and only the search is timed —
        # q5c above re-fits KMeans per invocation, which overstates the
        # per-query cost of the scale path
        "q5c2_ivf_search_only": lambda: ivf_search(
            ivf_state["assigned"], ivf_state["centroids"], queries,
            k=10, n_probe=4,
        ),
        # q5c is KMeans-fit-dominated; the sampled fit (deterministic
        # md5 10% sample, same centroider) cuts the per-iteration
        # full-corpus passes ~10x while the recall bar is pytest-pinned
        # — compare directly against q5c (identical search stage)
        "q5c3_ivf_sampled_fit": lambda: ivf_topk(
            emb, queries, k=10, n_cells=16, n_probe=4, fit_fraction=0.1
        ),
        "q6_quality": lambda: quality_features(docs),
        # Gopher-style repetition filters: the bigram aggregate is the
        # module's one deliberate shuffle (linear in doc length)
        "q6b_repetition": lambda: repetition_features(docs),
        "q7_graph": lambda: _graph_frames(docs),
        # the COMPLETE KG tail (extract -> link -> canonicalize -> FUSE
        # per canonical fact): one extra map-combinable shuffle over q7
        # plus the post-agg canonical_text join; build_kg's checkpoint
        # keeps linker+CC at one execution for both outputs
        "q7b_kg_fused": lambda: _kg_fused_frames(docs),
        # the COMPOSED curation job (dedup -> decontaminate -> quality
        # -> PII scrub -> stratified sample) as one plan — the 100 TB
        # story is this composition, not the stages singly (VERDICT r4
        # task 5); plan audit in PLANS.md
        "q8_dataprep": lambda: _dataprep_frame(docs),
        # mention-heavy entity linking on the vectorized TF-IDF scorer:
        # 200k candidate pairs, 2k distinct surfaces — the shape where
        # per-pair Python used to be the slowest surviving inner loop.
        # Summed, not count()ed: a count prunes the score column and
        # with it the TF-IDF UDF
        "q9_linker_tfidf": lambda: _linker_frame(spark).agg(
            F.sum("score"), F.count("*")),
        # incremental CC vs full recompute on the same union graph: the
        # fold's wall-time must track the 1% batch, not the accumulated
        # graph (VERDICT r4 task 6); prev_labels precomputed once in
        # setup (= the persisted state a real ingest run reads)
        "q10_cc_full": lambda: _cc_full(spark, cc_state),
        "q10b_cc_incremental": lambda: _cc_incremental(cc_state),
        # corpus line-dedup with a 100k-line hot set: far past the in-row
        # cutoff, so it runs the relational leg (broadcast hash join,
        # O(1) probe per line) — the in-row array scan is O(|hot|) per
        # LINE (BASELINE.md A/B, `python bench.py --line-dedup-ab`)
        "q11_line_dedup_hot1e5": lambda: _line_dedup_totals(
            line_dedup(ld_docs, min_df=3)),
        # iterative graph analytics at corpus-independent scale: 3
        # PageRank rounds over a deterministic 2M-edge graph (200k
        # nodes, 10% of edges funneled into 100 hubs — the skew case).
        # Per-round cost is the rank-vector shuffle only; the edge
        # table is partitioned + lineage-cut once in the operator
        "q12_pagerank_2m": lambda: _pagerank_frame(spark),
    }


# keys whose frame is one aggregate row: collected, because a count()
# would let column pruning skip the work the key times
_COLLECTED = ("q4_simhash", "q9_linker_tfidf", "q11_line_dedup_hot1e5")


def force(name, built):
    """The timed action of bench key ``name`` over its built frame(s):
    the summed row counts, or the collected aggregate row."""
    parts = built if isinstance(built, tuple) else (built,)
    if name in _COLLECTED:
        return [p.collect() for p in parts]
    return sum(p.count() for p in parts)


def build_queries(spark):
    """name -> zero-arg timed action (``force`` over ``build_frames``)."""
    return {
        name: (lambda name=name, build=build: force(name, build()))
        for name, build in build_frames(spark).items()
    }


def _pagerank_frame(spark):
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.centrality import (
        pagerank,
    )

    n_edges, n_nodes, n_hubs = 2_000_000, 200_000, 100
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("src"),
        F.when(
            F.col("id") % 10 == 0, F.pmod(F.col("id"), F.lit(n_hubs))
        )
        .otherwise(F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_nodes)))
        .alias("dst"),
    )
    # a ring guarantees every node an out-edge: the hashed src column
    # leaves ~9 of 200k nodes dangling by chance, and the key should
    # time the pure lazy-chain propagation path, not the per-round
    # dangling materialization
    ring = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % n_nodes).alias("dst"),
    )
    return pagerank(edges.unionByName(ring), max_iter=3)


def _graph_frames(docs):
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_graph
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    # mirror scripts/run_pipeline.py: edges are MATERIALIZED (warehouse
    # snapshot there, lazy localCheckpoint here — first action runs the
    # extraction once) before graph construction; passing the lazy
    # frame re-executes the mapInPandas extraction for every downstream
    # reference (build_graph consumes it 3x: linker pairs + the keyed
    # join + the two output counts)
    edges = extract_triples(transcripts_from_documents(docs)).localCheckpoint(
        eager=False
    )
    return build_graph(edges)


def _kg_fused_frames(docs):
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    # same materialization discipline as q7 (see _graph_frames)
    edges = extract_triples(transcripts_from_documents(docs)).localCheckpoint(
        eager=False
    )
    return build_kg(edges)


def _dataprep_frame(docs):
    """Composed curation job: dedup -> decontaminate -> quality filter
    -> PII scrub -> stratified sample as ONE plan via operators.curation
    (inline expressions + lazy-checkpoint boundaries — the naive
    join-back composition re-scanned the corpus 60x; see PLANS.md).
    Eval set = every 97th doc (the decontaminate gate's convention)."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.curation import (
        curate,
    )

    eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return curate(
        docs, eval_docs=eval_docs, decontam_n=8, min_quality=0.2,
        sample_fractions={}, default_fraction=0.5,
        n_bands=2, rows_per_band=2, max_bucket=1000,
    )


def _linker_frame(spark):
    """Mention-heavy TF-IDF linking: 200k candidate pairs over 2k
    distinct money surfaces — the fixture where the old per-pair Python
    scorer was the slowest surviving inner loop (VERDICT r4 task 1)."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )

    aliases = spark.range(2000).select(
        F.concat(F.format_string("%d", F.col("id") * 137 + 1000), F.lit("元")).alias("alias"),
        F.concat(F.lit("E"), F.col("id")).alias("canonical_id"),
        F.concat(F.lit("醫療費用#"), (F.col("id") * 137 + 1000).cast("string")).alias("block_key"),
    )
    mentions = spark.range(200_000).select(
        F.concat(F.lit("m"), F.col("id")).alias("mention_id"),
        F.lit("醫療費用").alias("pred"),
        # comma-separated surface of the same value -> same block, the
        # scorer sees a non-identical but high-overlap surface
        F.concat(
            F.format_string("%,d", (F.col("id") % 2000) * 137 + 1000), F.lit("元")
        ).alias("obj"),
    )
    return link_entities(mentions, aliases, scorer="tfidf", threshold=0.3)


# incremental-CC fixture: 500k nodes in chains of 8 (~437k edges base),
# 1% batch of cross-chain edges folded in
CC_NODES = int(os.environ.get("BENCH_CC_NODES", "500000"))


def _ivf_setup(emb):
    """Fit the IVF index ONCE (the persisted-index steady state)."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_assignments,
    )

    assigned, centroids = ivf_assignments(emb, n_cells=16)
    return {"assigned": assigned.localCheckpoint(eager=True),
            "centroids": centroids}


def _line_dedup_fixture(spark, n_docs: int, n_hot: int):
    """Deterministic boilerplate corpus: each doc has 15 hot lines drawn
    from an ``n_hot``-value vocabulary (slot s = doc*15+j maps to value
    s % n_hot, so every value lands in exactly 15*n_docs/n_hot distinct
    docs — >= min_df=3 at the bench shape) + 15 unique lines."""
    from pyspark.sql import functions as F

    hot_cols = [
        F.format_string("BP%d", (F.col("id") * 15 + j) % n_hot)
        for j in range(15)
    ]
    uniq_cols = [
        F.format_string("U%d-" + str(j), F.col("id")) for j in range(15)
    ]
    return (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws("\n", *hot_cols, *uniq_cols).alias("text"),
        )
        .localCheckpoint(eager=True)
    )


def _line_dedup_totals(out):
    """One-row aggregate over a line_dedup result that reads every
    rewritten text (a bare count() would let column pruning skip it)."""
    from pyspark.sql import functions as F

    return out.agg(F.sum(F.length("text")), F.sum("n_dropped").alias("nd"))


def _line_dedup_force(out) -> int:
    """Force FULL evaluation of a line_dedup result; -> lines dropped."""
    return int(_line_dedup_totals(out).collect()[0]["nd"])


def _line_dedup_legs(docs):
    """The min_df=3 hot set of ``docs``, materialized once, and the two
    private line_dedup legs bound to it — so an A/B times only the
    membership/rewrite stage the hot-set size chooses between."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        _hot_lines,
        _line_dedup_inrow,
        _line_dedup_relational,
        _line_df,
    )

    hot = _hot_lines(_line_df(docs, "doc_id", "text"), 3)
    return hot.count(), {
        "inrow": lambda: _line_dedup_inrow(docs, hot, "doc_id", "text", ()),
        "relational": lambda: _line_dedup_relational(
            docs, hot, "doc_id", "text", ()),
        "relational_no_hint": lambda: _line_dedup_relational(
            docs, hot, "doc_id", "text", (), broadcast_hot=False),
    }


def _append_baseline(lines: list, repeats: int) -> None:
    """Append one table to BASELINE.md, stamped with the machine's CPU
    count and the repeats behind each number."""
    cpus = len(os.sched_getaffinity(0))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + f"\n\ncpus: {cpus}, repeats: {repeats}\n\n")


def _alternating_medians(legs: dict, pairs: int) -> dict:
    """Median seconds per leg over ``pairs`` rounds, alternating which
    leg runs first; every leg must drop the same number of lines."""
    import statistics

    names = list(legs)
    secs = {n: [] for n in names}
    drops = set()
    for i in range(pairs):
        for n in (names if i % 2 == 0 else names[::-1]):
            t0 = time.time()
            drops.add(_line_dedup_force(legs[n]()))
            secs[n].append(time.time() - t0)
    assert len(drops) == 1, drops
    return {n: round(statistics.median(v), 2) for n, v in secs.items()}


def run_line_dedup_ab() -> None:
    """|hot|-scaling A/B behind dedup._INROW_HOT_LIMIT: the in-row
    array scan pays O(|hot|) per line, the relational leg is flat in
    |hot| but shuffles the corpus once. Medians of 6 alternating pairs
    per hot-set size; appends the table to BASELINE.md."""
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    pairs = 6
    spark = get_spark("line-dedup-ab", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    lines = [
        "",
        "## line_dedup leg A/B (20k docs x 30 lines, local[%d], "
        "median of %d alternating pairs)" % (CPUS, pairs),
        "",
        "| hot lines | in-row sec | relational sec |",
        "| --- | --- | --- |",
    ]
    for n_hot in (16, 64, 256, 1_000):
        docs = _line_dedup_fixture(spark, n_docs=20_000, n_hot=n_hot)
        got, legs = _line_dedup_legs(docs)
        assert got == n_hot, (got, n_hot)
        med = _alternating_medians(
            {k: legs[k] for k in ("inrow", "relational")}, pairs)
        print(json.dumps({"n_hot": n_hot, **med}))
        lines.append(f"| {n_hot} | {med['inrow']} | {med['relational']} |")
    spark.stop()
    _append_baseline(lines, pairs)


def run_line_dedup_oversized() -> None:
    """Oversized-hot-set A/B behind dedup._BROADCAST_HOT_LIMIT: the
    relational leg at a hot set of 1M distinct lines WITH the
    F.broadcast hint vs WITHOUT it (the plan past the limit). Same
    drops either way; the unhinted plan pays one extra line-key
    exchange. Medians of 3 alternating pairs; appends the table to
    BASELINE.md."""
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    pairs = 3
    spark = get_spark("line-dedup-oversized", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    # 200k docs x 15 hot slots / 1M values = every hot value in exactly
    # 3 distinct docs = min_df boundary; 6M total lines
    docs = _line_dedup_fixture(spark, n_docs=200_000, n_hot=1_000_000)
    _, legs = _line_dedup_legs(docs)
    med = _alternating_medians(
        {k: legs[k] for k in ("relational", "relational_no_hint")}, pairs)
    print(json.dumps(med))
    spark.stop()
    lines = [
        "",
        "## line_dedup oversized-hot-set A/B (200k docs x 30 lines, "
        "|hot|=1M distinct lines, local[%d], median of %d alternating "
        "pairs)" % (CPUS, pairs),
        "",
        "| relational leg | sec |",
        "| --- | --- |",
        f"| broadcast hint | {med['relational']} |",
        f"| no hint (AQE shuffle join) | {med['relational_no_hint']} |",
    ]
    _append_baseline(lines, pairs)


def run_skew_ab() -> None:
    """Skew stress for the pair generators (VERDICT r6 task 6): a
    Zipfian template corpus (bucket sizes follow a power law, one giant
    hot template) vs a uniform-template corpus of identical size,
    through minhash_lsh_pairs and simhash_near_pairs with caps ON. The
    p99/max bucket Observations + drop counts land in BASELINE.md and
    the skewed run must stay within 2x of the uniform wall (the cap is
    what bounds the hot bucket's O(size^2) pair expansion)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    spark = get_spark("skew-ab", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    n_docs = 20_000
    n_templates = 5_000

    def corpus(zipf: bool):
        if zipf:
            # inverse-power transform of a uniform md5 unit: template
            # ranks follow ~rank^-1.25 — one template covers a large
            # fraction of the corpus, the stress case for banding
            u = (F.pmod(F.xxhash64(F.col("id")), 1_000_000) + 1) / 1_000_000.0
            tpl = F.least(
                F.floor(F.pow(u, F.lit(-1.25))), F.lit(n_templates)
            ).cast("long")
        else:
            tpl = (F.pmod(F.xxhash64(F.col("id")), n_templates) + 1).cast("long")
        # 25 shared template tokens + 5 doc-unique tokens: same-template
        # docs are ~0.83-Jaccard near-dups, cross-template docs disjoint
        toks = [F.format_string("T%dw" + str(j), tpl) for j in range(25)]
        toks += [F.format_string("u%dw" + str(j), F.col("id")) for j in range(5)]
        return (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", *toks).alias("text"))
            .localCheckpoint(eager=True)
        )

    results: dict[tuple[str, str], dict] = {}
    for dist in ("uniform", "zipf"):
        docs = corpus(dist == "zipf")
        for gen in ("minhash", "simhash"):
            best, metrics = float("inf"), {}
            for _ in range(BENCH_ITERS):
                obs = Observation(f"{dist}-{gen}")
                t0 = time.time()
                if gen == "minhash":
                    n = minhash_lsh_pairs(
                        docs, n_bands=2, rows_per_band=2, max_bucket=1000,
                        observation=obs,
                    ).count()
                else:
                    n = simhash_near_pairs(
                        docs, max_hamming=3, max_bucket=1000, observation=obs,
                    ).count()
                wall = time.time() - t0
                if wall < best:
                    best, metrics = wall, dict(obs.get)
            results[(dist, gen)] = {
                "sec": round(best, 2), "pairs": n,
                "max_bucket": int(metrics.get("max_bucket_size") or 0),
                "p99_bucket": int(metrics.get("p99_bucket_size") or 0),
                "dropped_buckets": int(metrics.get("dropped_buckets") or 0),
                "dropped_ids": int(metrics.get("dropped_ids") or 0),
            }
            print(json.dumps({"dist": dist, "gen": gen,
                              **results[(dist, gen)]}))
    spark.stop()
    lines = [
        "",
        f"## Pair-generator skew stress ({n_docs} docs, Zipf vs uniform "
        "templates, caps=1000, min-of-k)",
        "",
        "| generator | corpus | sec | pairs | max bucket | p99 bucket "
        "| dropped buckets | dropped ids |",
        "| --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    ratios = []
    for gen in ("minhash", "simhash"):
        for dist in ("uniform", "zipf"):
            r = results[(dist, gen)]
            lines.append(
                f"| {gen} | {dist} | {r['sec']} | {r['pairs']} "
                f"| {r['max_bucket']} | {r['p99_bucket']} "
                f"| {r['dropped_buckets']} | {r['dropped_ids']} |"
            )
        ratio = results[("zipf", gen)]["sec"] / results[("uniform", gen)]["sec"]
        ratios.append(f"{gen}: zipf/uniform wall = {ratio:.2f}x")
        assert ratio <= 2.0, (
            f"{gen} skewed wall {ratio:.2f}x uniform — cap failed to "
            "bound the hot bucket"
        )
    lines += ["", *ratios,
              "",
              "The hot template's over-cap bucket is dropped AND counted "
              "(never silent); the n_bands sizing rule holds p99 well "
              "under the cap on the uniform corpus."]
    _append_baseline(lines, BENCH_ITERS)


def _cc_chains(spark, n_nodes: int):
    """The q10 graph shape: ``n_nodes`` ids in chains of 8 (7 edges
    each, 7/4 symmetric rows per node)."""
    from pyspark.sql import functions as F

    return spark.range(n_nodes).filter((F.col("id") % 8) != 7).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def _cc_setup(spark, n_nodes: int | None = None):
    """Build the accumulated-graph state ONCE (outside the timed
    queries): base edges, converged labels (what a real ingest run reads
    from its persisted vertex table), and the 1% new-edge batch."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.components import (
        connected_components,
    )

    n_nodes = n_nodes or CC_NODES
    base = _cc_chains(spark, n_nodes)
    batch = spark.range(n_nodes // 100).select(
        (F.col("id") * 16).alias("src"),
        (F.col("id") * 16 + 8).alias("dst"),
    )
    prev = connected_components(base, pointer_jump=True).localCheckpoint(eager=True)
    base = base.localCheckpoint(eager=True)
    batch = batch.localCheckpoint(eager=True)
    return {"base": base, "batch": batch, "prev": prev}


def _cc_full(spark, state):
    from information_extraction_for_chinese_nlp_spark.operators.components import (
        connected_components,
    )

    # chain-shaped fixture (diameter ~8): the deep-graph configuration
    return connected_components(
        state["base"].union(state["batch"]), pointer_jump=True
    )


def run_cc_legs() -> None:
    """Driver-leg vs distributed-leg A/B behind
    components._LOCAL_CC_LIMIT: connected_components(pointer_jump=True)
    over q10-shaped chain graphs at three sizes, each leg forced by
    patching the limit, same node count and component checksum on both.
    Medians of 4 alternating pairs per size; appends the table to
    BASELINE.md."""
    import statistics

    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators import components
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    pairs = 4
    legs = {"driver": 1 << 30, "distributed": -1}
    shipped = components._LOCAL_CC_LIMIT
    spark = get_spark("cc-legs", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    lines = [
        "",
        "## connected_components leg A/B (chains of 8, pointer_jump=True, "
        "local[%d], median of %d alternating pairs)" % (CPUS, pairs),
        "",
        "| nodes | symmetric edge rows | driver leg sec | distributed leg sec |",
        "| --- | --- | --- | --- |",
    ]
    for n_nodes in (20_000, 100_000, 400_000):
        edges = _cc_chains(spark, n_nodes).localCheckpoint(eager=True)
        n_sym = 2 * edges.count()
        secs = {leg: [] for leg in legs}
        results = set()
        try:
            for i in range(pairs):
                for leg in (list(legs) if i % 2 == 0 else list(legs)[::-1]):
                    components._LOCAL_CC_LIMIT = legs[leg]
                    t0 = time.time()
                    row = components.connected_components(
                        edges, pointer_jump=True
                    ).agg(F.count("*"), F.sum("component")).first()
                    secs[leg].append(time.time() - t0)
                    results.add(tuple(row))
        finally:
            components._LOCAL_CC_LIMIT = shipped
        assert len(results) == 1, results
        med = {leg: round(statistics.median(v), 2) for leg, v in secs.items()}
        print(json.dumps({"nodes": n_nodes, "sym_rows": n_sym, **med}))
        lines.append(f"| {n_nodes:,} | {n_sym:,} | {med['driver']} "
                     f"| {med['distributed']} |")
    spark.stop()
    _append_baseline(lines, pairs)


def _cc_incremental(state):
    from information_extraction_for_chinese_nlp_spark.operators.components import (
        merge_components,
    )

    return merge_components(state["prev"], state["batch"])


def n_turns_total() -> int:
    # mirror of synth_transcripts sizing: every 100th conv has 500 turns
    long_convs = (N_CONVS + 99) // 100
    return (N_CONVS - long_convs) * TURNS + long_convs * 500


BENCH_ITERS = int(os.environ.get("BENCH_ITERS", "3"))


def run_bench() -> dict:
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    queries = build_queries(spark)
    timings: dict[str, float] = {}
    # min-of-k: this sandbox is co-tenant and single runs show 3-30x
    # outliers (neighbors/GC); the minimum measures actual capacity
    for name, fn in queries.items():
        best = float("inf")
        for _ in range(BENCH_ITERS):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    spark.stop()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        "cpus": CPUS,
        "pipeline_turns": n_turns_total(),
        "pipeline_turns_per_sec": round(n_turns_total() / timings["q1_triples"], 1),
    }


SCALING_CONVS = int(os.environ.get("BENCH_SCALING_CONVS", "480000"))
SCALING_TURNS = int(os.environ.get("BENCH_SCALING_TURNS", "48"))
SCALING_ITERS = int(os.environ.get("BENCH_SCALING_ITERS", "4"))
# N and 4N cores: 4 vs 16 leaves headroom on the 32-core box for JVM
# service threads (GC, shuffle, Arrow), which otherwise contend with
# task threads and cap measured scaling well below the hardware's
# (plain multiprocessing on this box scales 8->32 at efficiency 1.0).
SCALING_LEVELS = (4, 16)


def run_scaling_worker(cpus: int) -> None:
    """Child process: min-of-k timing of the full pipeline at local[cpus].

    min-of-k because this sandbox is co-tenant — single runs show 3-5x
    outliers from neighbors/GC; the minimum measures actual capacity,
    which is what the N-vs-4N comparison needs.
    """
    import time as _time

    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    spark = get_spark(f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.range(10000).select(F.sum("id")).collect()
    extract_triples(synth_transcripts(spark, n_convs=50, turns_per_conv=5)).count()
    t = synth_transcripts(
        spark, n_convs=SCALING_CONVS, turns_per_conv=SCALING_TURNS,
        long_conv_every=100, long_conv_turns=500,
    )
    times = []
    rows = 0
    for _ in range(SCALING_ITERS):
        t0 = _time.time()
        rows = extract_triples(t).count()
        times.append(_time.time() - t0)
    long_convs = (SCALING_CONVS + 99) // 100
    turns = (SCALING_CONVS - long_convs) * SCALING_TURNS + long_convs * 500
    print(json.dumps({"cpus": cpus, "times": [round(x, 2) for x in times],
                      "min_sec": round(min(times), 2), "rows": rows,
                      "turns": turns}))
    spark.stop()


def run_scaling() -> None:
    """N vs 4N cores on identical input; efficiency = (T_N/T_4N)/4."""
    results = {}
    for cpus in SCALING_LEVELS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-worker", str(cpus)],
            env=dict(os.environ), capture_output=True, text=True, check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)

    n_lo, n_hi = SCALING_LEVELS
    t8 = results[n_lo]["min_sec"]
    t32 = results[n_hi]["min_sec"]
    turns = results[n_lo]["turns"]
    eff = (t8 / t32) / 4
    tp8 = turns / t8
    tp32 = turns / t32

    lines = [
        "",
        "## Measured scaling (this sandbox, N vs 4N cores)",
        "",
        f"Input: synthetic transcripts, {turns} turns "
        f"(convs={SCALING_CONVS}, turns/conv={SCALING_TURNS}, every 100th conv has "
        f"500 turns — the skew case); full triple-extraction pipeline "
        f"(assemble -> scrub -> fused chunk+score+decode -> threshold), "
        f"min of {SCALING_ITERS} runs per level (co-tenant sandbox).",
        "",
        "| parallelism | wall sec (min) | all runs | turns/sec |",
        "| --- | --- | --- | --- |",
        f"| local[{n_lo}] (N) | {t8:.2f} | {results[n_lo]['times']} | {tp8:.0f} |",
        f"| local[{n_hi}] (4N) | {t32:.2f} | {results[n_hi]['times']} | {tp32:.0f} |",
        "",
        f"Scaling efficiency (T_{n_lo} / T_{n_hi}) / 4 = **{eff:.2f}** (target >= 0.8).",
    ]
    _append_baseline(lines, SCALING_ITERS)
    print(json.dumps({"efficiency": round(eff, 3), "t8": t8, "t32": t32,
                      "turns_per_sec_8": round(tp8, 1),
                      "turns_per_sec_32": round(tp32, 1)}))


SF1_DIR = os.environ.get("BENCH_SF1_DIR", "/tmp/sf1_fixture")


def _sf1_cipher_udf(i: int):
    """Per-replica character substitution: rotate CJK codepoints within
    the unified block and ASCII letters/digits within their classes.
    A bijection on text, so each replica is an ISOMORPHIC copy of the
    sf0.1 corpus — n-gram Jaccard / simhash similarity WITHIN a replica
    is preserved exactly, while CROSS-replica shingle overlap drops to
    ~zero (only punctuation/whitespace grams survive). The 10x corpus
    therefore carries exactly 10x the near-dup pair structure — the
    linear-scaling fixture the ratio diagnostic needs. (The first cut
    appended a replica marker only: replicas stayed NEAR-duplicates of
    each other, so q3/q4c measured fixture-induced intra-cluster pair
    growth and shifted max_df pruning, not per-row cost.)"""
    from pyspark.sql import functions as F

    tbl: dict[int, int] = {}
    if i:
        for cp in range(0x4E00, 0xA000):
            tbl[cp] = 0x4E00 + ((cp - 0x4E00 + i * 2099) % 0x5200)
        for base, size in ((ord("a"), 26), (ord("A"), 26), (ord("0"), 10)):
            for k in range(size):
                tbl[base + k] = base + (k + i) % size

    @F.pandas_udf("string")
    def cipher(s: pd.Series) -> pd.Series:
        return s.str.translate(tbl) if tbl else s

    return cipher


def _build_sf1(spark) -> None:
    """Deterministic 10x fixture from the sf0.1 tables: each replica
    remaps ids into a disjoint range and rewrites the text through a
    per-replica substitution cipher (see ``_sf1_cipher_udf``) so the
    corpus is neither 10 exact copies (which would collapse into
    dedup_exact's job) nor 10 near-duplicate clusters (which would
    quadratically inflate near-dup candidate pairs and saturate the
    caps). A replica marker line keeps even punctuation-only texts
    distinct. Written as parquet so scans/pushdown behave exactly like
    the sf0.1 leg."""
    from functools import reduce

    from pyspark.sql import functions as F

    done = os.path.join(SF1_DIR, "_DONE")
    if os.path.exists(done):
        return
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    docs10 = reduce(
        lambda a, b: a.unionByName(b),
        [
            docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.concat(
                    _sf1_cipher_udf(i)(F.col("text")),
                    F.lit("\nREPLICA-%d" % i),
                ).alias("text"),
                "lang", "source", "n_chars",
            )
            for i in range(10)
        ],
    )
    docs10.write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "documents.parquet"))
    emb10 = reduce(
        lambda a, b: a.unionByName(b),
        [
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "embedding", "label",
            )
            for i in range(10)
        ],
    )
    emb10.write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "embeddings.parquet"))
    open(done, "w").close()


def run_sf1() -> None:
    """VERDICT r6 task 3: one sf1.0 leg for the 5 most expensive keys,
    timed against a same-session sf0.1 leg so the ratio is same-load.
    A clean 10x input should land near 10x wall (+noise); ratios past
    ~12x flag a constant floor or super-linear term the sf0.1 table
    hides. Appends the table to BASELINE.md."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ann_topk,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    spark = get_spark("bench-sf1", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    _build_sf1(spark)

    def legs(docs, emb, cc_state):
        queries = emb.filter(F.col("vec_id") < 100)
        return {
            "q3_ngram_jaccard": lambda: ngram_jaccard_pairs(
                docs, n=3, threshold=0.1, max_df=100).count(),
            "q4c_simhash64_vec": lambda: simhash_near_pairs(
                docs, n_bits=64, n_bands=8, max_hamming=7, max_bucket=1000).count(),
            "q5b_lsh_ann": lambda: ann_topk(
                emb, queries, k=10, n_planes=6, max_hamming=1).count(),
            "q8_dataprep": lambda: _dataprep_frame(docs).count(),
            "q10_cc_full": lambda: _cc_full(spark, cc_state).count(),
        }

    results: dict[str, dict[str, float]] = {}
    for label, sfdir, cc_nodes in (
        ("sf0.1", SF_DIR, CC_NODES),
        ("sf1", SF1_DIR, CC_NODES * 10),
    ):
        docs = spark.read.parquet(os.path.join(sfdir, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(sfdir, "embeddings.parquet"))
        cc_state = _cc_setup(spark, n_nodes=cc_nodes)
        for key, fn in legs(docs, emb, cc_state).items():
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
            results.setdefault(key, {})[label] = round(best, 2)
            print(json.dumps({"leg": label, "key": key, "sec": round(best, 2)}))

    lines = [
        "",
        "## sf1.0 leg for the top-5 expensive keys (round 7; 10x cipher-replica",
        "fixture, same-session sf0.1 reference, min-of-2, local[%d])" % CPUS,
        "",
        "| key | sf0.1 | sf1 | ratio (10x data) |",
        "|---|---|---|---|",
    ]
    for key, r in results.items():
        ratio = r["sf1"] / r["sf0.1"] if r["sf0.1"] else float("nan")
        flag = " **> 12x**" if ratio > 12 else ""
        lines.append("| %s | %.2f | %.2f | %.1fx%s |" % (
            key, r["sf0.1"], r["sf1"], ratio, flag))
    _append_baseline(lines, 2)
    print(json.dumps({k: v for k, v in results.items()}))
    spark.stop()


if __name__ == "__main__":
    if "--scaling-worker" in sys.argv:
        run_scaling_worker(int(sys.argv[sys.argv.index("--scaling-worker") + 1]))
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--line-dedup-ab" in sys.argv:
        run_line_dedup_ab()
    elif "--line-dedup-oversized" in sys.argv:
        run_line_dedup_oversized()
    elif "--cc-legs" in sys.argv:
        run_cc_legs()
    elif "--skew-ab" in sys.argv:
        run_skew_ab()
    elif "--sf1" in sys.argv:
        run_sf1()
    else:
        print(json.dumps(run_bench()))
