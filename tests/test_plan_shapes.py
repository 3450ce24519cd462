"""Plan-shape guarantees the 100 TB design relies on, asserted against
the actual executed plans."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

def _executed_plan(df) -> str:
    # collect() executes this Dataset's own QueryExecution, finalizing
    # its AdaptiveSparkPlan (count()/write() build derived plans)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-optimization "Initial Plan" — keep
    # only the final section
    return plan.split("== Initial Plan ==")[0]


def test_linker_broadcasts_alias_dict(spark):
    from information_extraction_for_chinese_nlp_spark.operators.linking import (
        link_entities,
    )

    mentions = spark.createDataFrame(
        [(f"m{i}", "醫療費用", "98,532元") for i in range(50)],
        "mention_id string, pred string, obj string",
    )
    alias = spark.createDataFrame(
        [("98,532元", "E1", "醫療費用#98532")],
        "alias string, canonical_id string, block_key string",
    )
    linked = link_entities(mentions, alias)
    plan = _executed_plan(linked)
    assert "BroadcastHashJoin" in plan, plan


def test_flagship_has_single_exchange(spark):
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    edges = extract_triples(synth_transcripts(spark, n_convs=50, turns_per_conv=5))
    plan = _executed_plan(edges)
    # one data movement in the hot path: the conv_id assembly shuffle
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan}"
    assert plan.count("MapInPandas") == 1


def test_split_hash_is_shuffle_free(spark):
    """The scale-path split must stay embarrassingly parallel: no
    Exchange, no Sort, no Window — a pure project over the scan (the
    exact-count split_dataset's Window.orderBy funnels everything
    through ONE task; split_hash is the 10⁹-row default)."""
    from information_extraction_for_chinese_nlp_spark.operators.convert import (
        split_hash,
        split_dataset,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("p").alias("prompt"),
        F.lit(0).alias("chunk_idx"),
    )
    plan = _executed_plan(split_hash(df))
    for op in ("Exchange", "Sort", "Window"):
        assert op not in plan, f"{op} in split_hash plan:\n{plan}"

    # fractions converge on the ratios (hash-mod is equal in expectation)
    counts = dict(
        split_hash(df).groupBy("split").count().rdd.map(tuple).collect()
    )
    assert abs(counts["train"] / 10_000 - 0.8) < 0.03
    assert abs(counts["dev"] / 10_000 - 0.1) < 0.02
    assert abs(counts["test"] / 10_000 - 0.1) < 0.02

    # both hashers produce a three-way split with the same guarantees
    md5_counts = dict(
        split_hash(df, hasher="md5").groupBy("split").count().rdd.map(tuple).collect()
    )
    assert set(md5_counts) == {"train", "dev", "test"}

    # contrast: the exact split (kept for small curated sets) does sort
    exact_plan = _executed_plan(split_dataset(df))
    assert "Window" in exact_plan


def test_length_packing_preserves_results(spark):
    """pack_by_length adds exactly one RangePartitioning exchange before
    the Python stage and changes nothing about the output."""
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_spans,
    )

    docs = spark.createDataFrame(
        [(str(i), ("支出醫療費用98,532元" * (1 + i % 7))) for i in range(30)],
        "doc_id string, text string",
    )
    base = extract_spans(docs, max_seq_len=128)
    packed = extract_spans(docs, max_seq_len=128, pack_by_length=True)
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, base.collect()))
    plan = _executed_plan(packed)
    assert "rangepartitioning" in plan.lower(), plan


@pytest.mark.slow
def test_aqe_splits_skewed_join(spark):
    """AQE skew-join splitting engages on a pathologically skewed key
    (thresholds lowered so the mechanism triggers at test scale).

    Runs in a newSession() so the SQL-conf overrides don't leak into the
    shared fixture session (getOrCreate() would just return it)."""
    spark = spark.newSession()
    for k, v in {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }.items():
        spark.conf.set(k, v)
    if True:
        # 95% of left rows share one key — the hot conv_id shape
        left = spark.range(300_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(5_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("rv")
        )
        # the aggregate must reference payload or column pruning shrinks
        # the hot partition to repeated zero keys, which compress below
        # the skew threshold and the split never triggers
        joined = left.join(right, on="k").select(
            F.count_if(F.length("payload") > F.col("rv")).alias("n")
        )
        joined.collect()
        # materialized AQE stages print shallowly via executedPlan();
        # formatted explain after execution expands the final stages
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead: "coalesced and skewed"


def test_vectorized_minhash_cuts_shuffles(spark, sf_dir):
    """Scale shape: minhash_lsh_pairs plans exactly two Exchanges (the
    bucket aggregation and the pair distinct) around ONE Python stage —
    the Catalyst token-explode + per-seed aggregation it replaced
    planned four — and no join."""
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = minhash_lsh_pairs(
        docs, n_bands=4, rows_per_band=2
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan


def test_aqe_floor_keeps_cpu_stage_wide(spark):
    """The session must pin AQE's coalesce floor to 64k: the default
    1m byte floor coalesced the post-assembly shuffle to 3 of 32
    partitions, starving the CPU-bound fused-extraction stage
    (measured r7 at sf0.1: q1 1.97s -> 1.23s). The floor, not an
    explicit repartition, is the fix — repartition(32) matched the
    wall time but plans an extra Exchange at scale."""
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        == "64k"
    )
    # Behavioral half: a shuffle whose map output lands between the 64k
    # floor and the 1m default must NOT collapse to one partition.
    # 1024 groups x ~600-byte payload ≈ 600k of shuffle bytes.
    df = (
        spark.range(1024)
        .withColumn("g", F.col("id"))
        .withColumn("payload", F.repeat(F.lit("x"), 600))
        .groupBy("g")
        .agg(F.first("payload").alias("p"))
    )
    df.collect()
    nparts = df.rdd.getNumPartitions()
    assert nparts >= 4, nparts


def test_unit_vectors_norm_not_inlined(spark):
    """r8 regression guard: CollapseProject used to inline the norm
    aggregate into the division lambda, where interpreted HOF
    evaluation re-ran it PER ELEMENT (O(d²)/row in every ANN/IVF
    plan). The when-guard keeps the alias referenced twice, so the
    plan must divide by a materialized `_nrm` attribute and evaluate
    the SQRT aggregate at most twice per row (filter + projection),
    never once per element."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        unit_vectors,
    )

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), F.lit(1.0), F.lit(2.0)
        ).alias("embedding"),
    )
    out = unit_vectors(df, "embedding")
    plan = _executed_plan(out)
    assert "/ _nrm#" in plan, plan
    assert plan.count("SQRT(aggregate") <= 2, plan


def test_ivf_search_has_no_pair_dedup_exchange(spark):
    """r8: IVF partitions the corpus (one cell per row, distinct probe
    cells per query), so (qid, nid) pairs are unique by construction
    and the old groupBy(qid, nid) dedup was an identity costing a full
    Exchange. The plan must carry exactly ONE hash exchange (the
    ranking window); pair rows must still be unique."""
    from information_extraction_for_chinese_nlp_spark.operators.similarity import (
        ivf_search, ivf_assignments,
    )

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.pmod(F.xxhash64("id", F.lit(d)), 97).cast("double") / 97.0
              for d in range(8)]
        ).alias("embedding"),
    )
    assigned, centroids = ivf_assignments(emb, n_cells=4)
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_search(assigned, centroids, queries, k=3, n_probe=2)
    plan = _executed_plan(out)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan}"
    pairs = out.select("qid", "nid")
    assert pairs.count() == pairs.distinct().count()


def test_generate_has_no_inferred_duplicate_filter(spark):
    """r8: InferFiltersFromGenerate is excluded session-wide — the
    inferred `size(e) > 0` filter under an explode re-evaluated the
    whole derived-array expression once more per row (expensive for
    the interpreted shingle/band chains, prunes nothing explode would
    keep). The plan below a generator must not re-state the generator
    expression inside a Filter."""
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", ""
    )
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    out = df.select("doc_id", F.explode(word_shingles(F.col("text"), 3)))
    plan = _executed_plan(out)
    # the shingle chain must appear exactly once (the Generate input
    # projection), not again inside an inferred size()>0 Filter
    assert plan.count("zip_with") == (3 - 1), plan
