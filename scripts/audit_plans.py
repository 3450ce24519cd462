import io, sys, contextlib
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import pyspark.sql.functions as F
from information_extraction_for_chinese_nlp_spark.session import get_spark
from information_extraction_for_chinese_nlp_spark.plans import registry

spark = get_spark("plans", master="local[8]")
registry._load()
qs = registry.queries()
SF = "/root/testdata/sf0.01"

def plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

sections = []

# flagship
from information_extraction_for_chinese_nlp_spark.plans.pipeline import extract_triples
from information_extraction_for_chinese_nlp_spark.sources.transcripts import transcripts_from_documents
docs = spark.read.parquet(f"{SF}/documents.parquet")
edges = extract_triples(transcripts_from_documents(docs))
sections.append(("flagship extract_triples", plan_of(edges), """
What to read in this plan:
- exactly ONE Exchange (the conv_id turn-assembly shuffle); everything
  after it is narrow — at 10^12 turns this is the only data movement.
- ONE MapInPandas node: prompt-expansion, chunking, scoring, and decode
  are fused; document text crosses the Arrow boundary once.
- the scrub regexps and the strategy threshold Filter sit in projections
  around the Python stage, JVM-side.
"""))

# pushdown evidence
q = qs["pricing_summary"](spark, SF)
sections.append(("pricing_summary (scan pushdown)", plan_of(q), """
What to read: PushedFilters on the parquet scan carries the l_shipdate
predicate, and ReadSchema lists only the 7 referenced columns of
lineitem — filter pushdown + column pruning reach the scan.
"""))

q = qs["region_revenue"](spark, SF)
sections.append(("region_revenue (broadcast dims)", plan_of(q), """
What to read: three BroadcastHashJoins — the dimension hierarchy
(customer, nation, region) broadcasts; the orders fact table never
shuffles for the joins, only for the final aggregation.
"""))

q = qs["dedup_exact"](spark, SF)
sections.append(("dedup_exact (partial aggregation)", plan_of(q), """
What to read: HashAggregate(partial) below the Exchange and
HashAggregate(final) above it — map-side combine bounds the shuffle to
one row per distinct text hash per task. WholeStageCodegen spans cover
the md5 + aggregation.
"""))

from information_extraction_for_chinese_nlp_spark.operators.convert import split_hash
q = split_hash(docs)
sections.append(("split_hash (shuffle-free dataset split)", plan_of(q), """
What to read: NO Exchange, NO Sort, NO Window — the split is a pure
projection over the scan (xxhash64 bucket + two comparisons), i.e.
embarrassingly parallel at any row count. Contrast split_dataset's
exact-count variant, whose global row_number funnels every row through
one task (kept only for small curated sets).
"""))

from information_extraction_for_chinese_nlp_spark.operators.convert import pack_documents
q = pack_documents(docs, cap_tokens=512, n_buckets=8)
sections.append(("pack_documents (quota-bin sequence packing)", plan_of(q), """
What to read: ONE Exchange (hash by bucket) feeding per-bucket Window
cumsums — a global greedy first-fit would need a total order + stateful
scan (single-reducer at 10^9 docs). Pack overflow is bounded by one
document; the md5 bucket hash makes assignment identical at any
cluster size.
"""))

from information_extraction_for_chinese_nlp_spark.operators.dedup import minhash_lsh_pairs
q = minhash_lsh_pairs(docs, n_bands=2, rows_per_band=2)
sections.append(("minhash_lsh_pairs (b×r banding)", plan_of(q), """
What to read: ONE MapInPandas computes every document's band strings,
then ONE linear aggregation chain with exactly two Exchanges (bucket
aggregate, pair distinct) and NO self-join — the signature pipeline
(the dominant cost) runs exactly once; pairs expand
JVM-side inside each (band_id, band) bucket via Generate, and the final
HashAggregate pair collapses cross-band duplicates. A self-join
formulation re-executes the whole signature subtree for its second
alias (Spark doesn't reuse the exchange — measured), doubling the scan
at scale. Candidates only materialize on bucket collisions — never an
all-pairs product; max_bucket caps degenerate exact-dup clusters.
"""))

from information_extraction_for_chinese_nlp_spark.operators.dedup import simhash_near_pairs
q = simhash_near_pairs(docs, n_bits=64, n_bands=8, max_hamming=7)
sections.append(("simhash_near_pairs (pigeonhole banding, 64-bit)", plan_of(q), """
What to read: the same bucket chain as minhash_lsh_pairs — ONE
MapInPandas computes each fingerprint as 32-bit words (one word for
n_bits ≤ 32, two at 64), a Generate emits the n_bands band values
(each cut from one word), then the (band_id, band) bucket aggregate and
the pair distinct are the only two Exchanges. The Filter over the
MapInPandas drops NULL doc ids (a NULL id never enters a bucket); the
one over the pair Generate is the exact Hamming verify, bit_count(xor)
summed over the words, pushed below the pair distinct.
"""))

from information_extraction_for_chinese_nlp_spark.operators.similarity import ann_topk
emb = spark.read.parquet(f"{SF}/embeddings.parquet")
q = ann_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_planes=6, max_hamming=1)
sections.append(("ann_topk (multiprobe LSH)", plan_of(q), """
What to read: exactly ONE corpus Scan. The bucket code is computed in
the same projection that carries the vector (keep=), and the
MapInPandas above it scores each row against the queries probing its
bucket: the query set, with its probe codes, was collected when the
plan was built and rides in the task closure, so there is no join and
the corpus never shuffles. ONE Exchange follows, on the bounded local
top-k rows: hash-partitioned on qid, it serves both the (qid, nid) max
merge (a pair repeats only through a duplicated id) and the per-query
ranking window.
"""))

from information_extraction_for_chinese_nlp_spark.operators.dedup import line_dedup
ld_docs = docs.filter(F.col("doc_id") % 5 == 0)
q = line_dedup(ld_docs, min_df=3)
sections.append(("line_dedup (in-row leg, hot sets up to 64 lines)", plan_of(q), """
What to read: the corpus side is Scan -> BroadcastNestedLoopJoin (the
hot set as ONE single-row array) -> Project, with NO corpus Exchange;
each document filters its own split lines with array_contains. The
hot-set discovery pass ran at plan-construction time into an eager
localCheckpoint and appears only as the broadcast side, whose one
Exchange gathers the hot lines into that single row.
"""))

hot_docs = spark.range(300).select(
    F.col("id").alias("doc_id"),
    F.concat_ws("\n", *[F.format_string("BP%d", (F.col("id") * 15 + j) % 100)
                          for j in range(15)],
                F.format_string("U%d", F.col("id"))).alias("text"),
)
q = line_dedup(hot_docs, min_df=3)
sections.append(("line_dedup (relational leg, larger hot sets)", plan_of(q), """
What to read: Generate (posexplode_outer of the lines) ->
BroadcastHashJoin against the hot set (O(1) probe per line) -> ONE
Exchange for the per-row reassembly aggregate. This is the only leg
that shuffles the corpus, and the only one with no bound on the hot
set: past 4M hot lines the broadcast hint goes and AQE plans a shuffle
join instead. `python bench.py --line-dedup-ab` prices both legs.
"""))

from information_extraction_for_chinese_nlp_spark.operators.similarity import brute_force_topk
q = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
sections.append(("brute_force_topk (exact search)", plan_of(q), """
What to read: ONE MapInPandas directly over the corpus scan. The query
matrix rides in the task closure and each Arrow batch emits only its
per-query top-k, so the one Exchange (the ranking window) moves at most
batches·queries·k rows, never the corpus. ann_topk and ivf_search are
the same plan with a bucket or cell column carried into the
MapInPandas.
"""))

q = minhash_lsh_pairs(docs, n_bands=16, rows_per_band=4, max_bucket=1000)
sections.append(("minhash_lsh_pairs at the 100 TB budget (b=16×r=4)", plan_of(q), """
What to read: the same two-Exchange shape as b=2×r=2 — the signature
stage is ONE MapInPandas over the scan, 64 md5 minima per document
computed in-batch, so the bucket Exchange moves n_bands rows per
document (a token-explode formulation would shuffle tokens×n_seeds
exploded rows; at a 100 TB signature budget that multiplies shuffle
volume ~tokens×). Pair expansion stays JVM-side in the bucket
aggregate.
"""))

from information_extraction_for_chinese_nlp_spark.plans.graph import (
    normalize_objects,
    raw_match_pairs,
)
q = raw_match_pairs(normalize_objects(edges))
sections.append(("graph raw_match_pairs (banded linker)", plan_of(q), """
What to read: NO Join node anywhere — candidate pairs for
non-normalizable surfaces come from (pred, band) MinHash buckets via
one aggregation chain + JVM-side pair expansion, with the exact bigram
Jaccard verifying inside the Generate. The previous pred-blocked
self-join was O(n²) candidates per predicate — the last quadratic
generator in the engine, now gone (plan-shape asserted in
tests/test_graph.py).
"""))

from information_extraction_for_chinese_nlp_spark.operators.similarity import (
    ivf_assignments,
    ivf_search,
)
_assigned, _cents = ivf_assignments(emb, n_cells=16)
q = ivf_search(_assigned, _cents, emb.filter(F.col("vec_id") < 5), k=3, n_probe=4)
sections.append(("ivf_search (driver-side query cells)", plan_of(q), """
What to read: the corpus side is the k-means assignment (the model's
transform, with the NULL/zero-vector filter below it) feeding ONE
MapInPandas that scores each row against the queries probing its cell.
The query cells were picked on the driver when the plan was built, so
the plan does not grow with n_cells, and the ranking window's Exchange
is the only one: a row owns one cell and a query's probe cells are
distinct, so no (qid, nid) pair repeats.
"""))

q = qs["winnow_fingerprints"](spark, SF)
sections.append(("winnow_fingerprints (rolling-hash winnowing)", plan_of(q), """
What to read: a LINEAR Project/Generate chain over the scan — no
shuffle at all; each stage (normalize, k-gram hashes, window minima)
lands in a real column because Catalyst does not CSE across nested
lambdas (inlining the hash array re-evaluates it per window element —
measured minutes instead of seconds).
"""))

from information_extraction_for_chinese_nlp_spark.operators.dedup import (
    decontaminate,
    dedup_pipeline,
)
q = dedup_pipeline(docs.limit(200), n_bands=2, rows_per_band=2)
sections.append(("dedup_pipeline (exact → LSH → CC → anti-join)", plan_of(q), """
What to read: the exact-keep LEFT SEMI join sits BELOW the banding
stage, so identical texts collapse to one canonical doc before any
signature is computed — the O(n²) identical-signature bucket (the case
max_bucket guards) structurally cannot form. The CC labels arrive as a
Scan ExistingRDD: connected_components read the pairs once, and a
near-dup graph within components._LOCAL_CC_LIMIT symmetric rows (this
one) was labeled on the driver from one collect of its edge set; a
larger graph arrives as the distributed loop's localCheckpoint scan.
The keep-list is a LEFT ANTI join — no self-join anywhere.
"""))

q = decontaminate(docs, docs.filter(F.col("doc_id") % 97 == 0), n=8)
sections.append(("decontaminate (eval-set n-gram overlap)", plan_of(q), """
What to read: the eval corpus's distinct n-grams feed a
BroadcastHashJoin — the training-corpus side (the 100 TB side) never
shuffles for the overlap probe; only the tiny per-doc hit counts move,
and they re-join the id spine via a second broadcast.
"""))

from information_extraction_for_chinese_nlp_spark.operators.curation import curate

q = curate(
    docs,
    eval_docs=docs.filter(F.col("doc_id") % 97 == 0).select("text"),
    min_quality=0.2, sample_fractions={}, default_fraction=0.5,
    n_bands=2, rows_per_band=2, max_bucket=1000,
)
sections.append(("q8_dataprep (composed curation via operators.curation)", plan_of(q), """
What to read: ZERO parquet scans in this plan — the corpus is read
exactly twice in total, both INSIDE dedup's checkpointed sub-plan
(exact-keep aggregation + canonical build), and everything above reads
the two Scan ExistingRDD checkpoint boundaries. The naive join-back
composition of the same five stages (each stage computing a skinny
verdict frame and LEFT-SEMI joining it back) re-executed upstream per
reference and showed SIXTY corpus scans in this audit — the round-5
finding that produced operators/curation.py. Quality filter and PII
scrub are INLINE row-local expressions (quality_feature_cols /
pii_scrub_col) — Filter/Project, no join; decontaminate's n-gram probe
broadcasts against the checkpointed dedup output; the stratified
sample is a pure md5 projection. At a real 100 TB run each
localCheckpoint boundary becomes a TableIO snapshot write
(scripts/run_dataprep.py) — same linearity, durable instead of
executor-local.
"""))

from information_extraction_for_chinese_nlp_spark.operators.components import (
    connected_components,
    merge_components,
)

_base = spark.range(80_000).filter((F.col("id") % 8) != 7).select(
    F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
)
_prev = connected_components(_base).localCheckpoint(eager=True)
_batch = spark.range(1_000).select(
    (F.col("id") * 16).alias("src"), (F.col("id") * 16 + 8).alias("dst")
)
q = merge_components(_prev, _batch)
sections.append(("merge_components (incremental CC fold)", plan_of(q), """
What to read: the labeling consumes ONLY the contraction graph (one
edge per NEW edge, endpoints mapped through prev labels via two
broadcast-able joins). It fits components._LOCAL_CC_LIMIT here, so it
was collected once by the probe, labeled by a driver union-find and
enters as the broadcast relabel map (Scan ExistingRDD under a
BroadcastExchange); a batch past the limit would run
connected_components on the contraction graph alone. The accumulated
graph appears exactly twice, both times as a NON-iterative single-pass
join (the relabel map join and the new-node anti-join), reading the
converged labels from their checkpoint scan. That is the
incrementality claim in plan form: per-batch cost = CC(batch-sized
graph) + two linear joins over the label table, never CC(accumulated
graph). Benchmarked as q10_cc_full vs q10b_cc_incremental
(sf-independent synthetic fixture: 500k-node chain graph, 1% batch).
"""))

from information_extraction_for_chinese_nlp_spark.operators.fusion import fuse_triples
_mentions = spark.read.parquet(f"{SF}/events.parquet").select(
    F.col("user_id").alias("subj"),
    F.col("event_type").alias("pred"),
    (F.col("value").cast("long") % 10).alias("obj"),
    F.least(F.lit(0.95), F.col("value") / 19.0).alias("prob"),
    F.col("event_id").alias("doc_id"),
)
q = fuse_triples(_mentions)
sections.append(("fuse_triples (noisy-or knowledge fusion)", plan_of(q), """
What to read: ONE exchange on the fact key. The log-space noisy-or sum,
mention count, max, and min are HashAggregate(partial) BELOW the
exchange — a hot fact with millions of identical mentions
partial-aggregates before any data moves, so fact-popularity skew
never skews the shuffle. The countDistinct(doc) rides Spark's standard
two-phase expand; no joins, no window, nothing Python-side.
"""))

from information_extraction_for_chinese_nlp_spark.operators.centrality import pagerank
_pr_edges = spark.range(100_000).select(
    F.pmod(F.xxhash64(F.col("id")), F.lit(10_000)).alias("src"),
    F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(10_000)).alias("dst"),
).unionByName(
    spark.range(10_000).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 10_000).alias("dst")
    )
)
q = pagerank(_pr_edges, max_iter=1)
sections.append(("pagerank (one propagation round)", plan_of(q), """
What to read: the edge side enters every round as `Scan ExistingRDD`
(degree-annotated, lineage-cut ONCE before iteration — rounds re-read
materialized blocks, never re-derive the input plan), and the rank
vector BROADCASTS onto it (BroadcastHashJoin) — below the broadcast
threshold a round's only exchange on data is the contribution groupBy
on dst. Measured limitation, stated honestly: localCheckpoint does
NOT carry partitioning through the cut in this runtime, so past the
rank vector's broadcast threshold the edge side re-exchanges per
round; the at-scale answer is layout — persist edges bucketed by src
and pass materialize_edges=False, and the bucketed scan's reported
partitioning co-locates the degree groupBy and every round's rank
join with no edge-side exchange (plan-asserted in
test_centrality::test_pagerank_bucketed_edges_colocate_no_edge_exchange).
The dangling branch is absent here (dangle-free graph detected up
front); with danglers the mass arrives as a driver scalar off the
per-round materialized ranks, never as a lazy broadcast subplan that
would re-execute rank lineage. Benchmarked as q12_pagerank_2m (2M
edges, 200k nodes, 100-hub skew, 3 rounds).
"""))

out = ["# PLANS — physical-plan audit (sf0.01, local[8])",
       "",
       "Generated by scripts/audit_plans.py; regenerate after plan-shape",
       "changes. Each section: `.explain('formatted')` output + what the",
       "plan must show for the 100 TB design point.", ""]
for title, plan, notes in sections:
    out.append(f"## {title}")
    out.append(notes.strip())
    out.append("")
    out.append("```")
    # keep the tree + first nodes, trim exhaustive details
    lines = plan.splitlines()
    cut = next((i for i, l in enumerate(lines) if l.startswith("(1)")), len(lines))
    tree = lines[:cut]
    out.extend(tree)
    # pull the scan-detail evidence lines (pushdown + pruning) from the
    # detail section
    evidence = [l.strip() for l in lines[cut:]
                if l.strip().startswith(("PushedFilters:", "ReadSchema:"))]
    if evidence:
        out.append("-- scan details --")
        out.extend(evidence)
    out.append("```")
    out.append("")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
    f.write("\n".join(out))
print("PLANS.md written", len("\n".join(out)), "chars")
spark.stop()
