"""The four workloads, each driving the library only through its public
entry points.

A workload object has three phases:

- ``generate()``: make the seeded inputs and write them as parquet;
- ``prepare()``: compute the references the output checks compare
  against (serial oracle, uninterrupted run, batch build);
- ``run_once()``: one closed-loop job, timed, then checked. It returns a
  ``Job`` with the job's wall time, the items it processed, the
  operation latencies it produced and the number of operations whose
  output check failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, inputs
from .trace import input_records, span_or_null, state_bytes


@dataclass
class Job:
    wall_s: float
    items: int
    op_s: list[float]
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def ops(self) -> int:
        return len(self.op_s)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Workload:
    name = ""
    item = ""  # what items_per_s counts
    op_metric = "job_p50_s"  # the run record's name for the median operation
    # one unmeasured job before the timed loop; a workload whose prepare()
    # already runs its plans cold skips it
    WARMUP = True

    def __init__(self, spark, work_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.props: dict = {}

    def span(self, layer: str):
        return span_or_null(self.tracer, layer)

    def layer_metrics(self, jobs, spans, log) -> dict:
        """Workload-specific per-layer metrics of the traced jobs."""
        return {}


def span_oracle(table, n_sample: int) -> tuple[list[str], list[tuple]]:
    """The scripts/evaluate.py oracle over a fixed sample of conversations
    that includes the four longest: turns joined in turn order, then a
    serial per-document scrub -> chunk -> StubEncoder loop.
    -> (sampled conv ids, their (conv, prompt, start, end) spans)."""
    from information_extraction_for_chinese_nlp_spark.functions.chunking import (
        chunk_content,
    )
    from information_extraction_for_chinese_nlp_spark.functions.text import scrub_text
    from information_extraction_for_chinese_nlp_spark.inference.scorer import StubEncoder

    turns: dict[str, list] = {}
    for conv, idx, text in zip(*(table.column(c).to_pylist()
                                 for c in ("conv_id", "turn_idx", "text"))):
        turns.setdefault(conv, []).append((idx, text or ""))
    by_len = sorted(turns, key=lambda c: (-len(turns[c]), c))
    sample = sorted(set(by_len[:4]) | set(sorted(turns)[: n_sample - 4]))
    encoder = StubEncoder(inputs.ENTITY_TYPES)
    gold = []
    for conv in sample:
        text = scrub_text("".join(t for _, t in sorted(turns[conv])))
        for prompt in inputs.ENTITY_TYPES:
            for cs, piece, _ in chunk_content(text, prompt, 512):
                for s, e, p in encoder.extract(piece, prompt):
                    if p > 0.5:
                        gold.append((conv, prompt, cs + s, cs + e))
    return sample, gold


class KgBatch(Workload):
    """scripts/run_kg.py: extract_triples -> build_kg -> vertices and
    fused facts written as parquet."""

    name, item = "kg_batch", "turns"
    N_CONVS = 600
    SAMPLE_CONVS = 24

    def generate(self):
        self._table, self.props = inputs.transcripts(self.seed, self.N_CONVS)
        pq.write_table(self._table, _fresh(f"{self.dir}/in") + "/part-0.parquet")

    def prepare(self):
        self._sample, self._gold = span_oracle(self._table, self.SAMPLE_CONVS)
        self.props["oracle_convs"] = len(self._sample)
        self.props["oracle_spans"] = len(self._gold)

    def run_once(self) -> Job:
        from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
        from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
            extract_triples,
        )

        out = f"{self.dir}/out"
        t0 = time.perf_counter()
        transcripts = self.spark.read.parquet(f"{self.dir}/in")
        edges = extract_triples(transcripts).localCheckpoint(eager=False)
        vertices, fused = build_kg(edges)
        fused = fused.localCheckpoint(eager=False)
        vertices.write.mode("overwrite").parquet(f"{out}/vertices")
        fused.write.mode("overwrite").parquet(f"{out}/fused_edges")
        wall = time.perf_counter() - t0

        with self.span("check"):
            got = edges.filter(F.col("subj").isin(self._sample)).select(
                "subj", "pred", "start", "end").collect()
            problems = checks.check_spans(got, self._gold)
            problems += checks.check_kg_tables(
                _rows(self.spark.read.parquet(f"{out}/vertices").select("entity_id")),
                _rows(self.spark.read.parquet(f"{out}/fused_edges").select("entity_id")),
            )
        return Job(wall, self.props["turns"], [wall], int(bool(problems)), problems)


class PlannedStop(Exception):
    """Raised inside the crash window of a bucket batch."""


def stopping_table_io(stop_at_ack: int):
    """A TableIO that stops the run deterministically inside the crash
    window: on the ``stop_at_ack``-th watermark append, after that batch's
    output snapshot was appended and before its ack is written."""
    from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO

    class StoppingTableIO(TableIO):
        acks = 0

        def write(self, df, table, mode="overwrite", **kw):
            if table.endswith("__wm") and mode == "append":
                self.acks += 1
                if self.acks == stop_at_ack:
                    raise PlannedStop(f"stopped before ack {self.acks}")
            return super().write(df, table, mode=mode, **kw)

    return StoppingTableIO


class KgResume(Workload):
    """The kg_batch job in its resumable form: scripts/run_pipeline.py
    --resume (a ResumableRunner over TableIO writes the extract_triples
    edges in bucket batches) with scripts/run_kg.py's build_kg tail. The
    runner is stopped inside the crash window of one batch once, in
    set-up; each job restores that stopped warehouse, resumes it to
    completion and writes the build_kg vertices and fused facts into
    TableIO."""

    name, item, op_metric = "kg_resume", "turns", "resume_s"
    N_CONVS = KgBatch.N_CONVS
    N_BUCKETS, PER_BATCH, STOP_AT_ACK = 8, 4, 2
    SAMPLE_CONVS = KgBatch.SAMPLE_CONVS

    generate = KgBatch.generate

    def _extract(self, df):
        from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
            extract_triples,
        )

        # traced: the prune span runs from runner start to the first
        # batch; a bucket batch from its process() call to the next one
        # or the end of the run (extraction, output snapshot, row count,
        # watermark ack)
        for attr in ("_prune", "_batch"):
            if getattr(self, attr, None) is not None:
                self.tracer.end(getattr(self, attr))
                setattr(self, attr, None)
        if self.tracer is not None and self.tracer.active:
            self._batch = self.tracer.begin("checkpoint.batch")
        return extract_triples(df)

    def _run(self, io, transcripts):
        from information_extraction_for_chinese_nlp_spark.sources.checkpoint import (
            ResumableRunner,
        )

        runner = ResumableRunner(self.spark, io, "edges", self.N_BUCKETS)
        if self.tracer is not None and self.tracer.active:
            self._prune = self.tracer.begin("checkpoint.prune")
        try:
            runner.run(transcripts, self._extract, buckets_per_batch=self.PER_BATCH)
        finally:
            for attr in ("_prune", "_batch"):
                if getattr(self, attr, None) is not None:
                    self.tracer.end(getattr(self, attr))
                    setattr(self, attr, None)
        return runner

    def prepare(self):
        from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
        from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO
        from information_extraction_for_chinese_nlp_spark.sources.checkpoint import (
            ResumableRunner,
        )

        # the uninterrupted run: its edges and KG tables are the reference,
        # and its spans are checked once against the serial oracle
        transcripts = self.spark.read.parquet(f"{self.dir}/in")
        want = self._extract(transcripts).localCheckpoint()
        self._columns = want.columns
        self._want = [tuple(r) for r in want.collect()]
        sample, gold = span_oracle(self._table, self.SAMPLE_CONVS)
        self._reference_problems = checks.check_spans(
            [(r.subj, r.pred, r.start, r.end)
             for r in want.filter(F.col("subj").isin(sample)).collect()], gold)
        vertices, fused = build_kg(want)
        self._want_kg = (_rows(vertices), _rows(fused))
        self.props["reference_edges"] = len(self._want)
        bucket = ResumableRunner(self.spark, None, "edges", self.N_BUCKETS).bucket_col()
        self._bucket_turns = dict(transcripts.groupBy(bucket).count().collect())

        # the stopped run; the TableIO manifest holds absolute paths, so
        # every job resumes from a copy restored to the same directory
        wh = _fresh(f"{self.dir}/warehouse")
        t = time.perf_counter()
        try:
            self._run(stopping_table_io(self.STOP_AT_ACK)(self.spark, wh), transcripts)
        except PlannedStop:
            pass
        else:
            raise RuntimeError("the first run was not stopped")
        self.props["stopped_s"] = time.perf_counter() - t
        self._acked_after_stop = sorted(
            r.bucket for r in TableIO(self.spark, wh).read("edges__wm").collect())
        shutil.copytree(wh, f"{self.dir}/stopped")

    def run_once(self) -> Job:
        from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
        from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO

        wh = f"{self.dir}/warehouse"
        shutil.rmtree(wh)
        shutil.copytree(f"{self.dir}/stopped", wh)
        transcripts = self.spark.read.parquet(f"{self.dir}/in")
        io = TableIO(self.spark, wh)
        t0 = time.perf_counter()
        runner = self._run(io, transcripts)
        vertices, fused = build_kg(io.read("edges"))
        io.write(vertices, "vertices", mode="overwrite")
        io.write(fused, "fused_edges", mode="overwrite")
        wall = time.perf_counter() - t0

        with self.span("check"):
            edges = io.read("edges").select(*self._columns).collect()
            acks = [r.bucket for r in runner.watermarks().collect()]
            problems = self._reference_problems + checks.check_resume(
                edges, self._want, acks, self.N_BUCKETS)
            problems += checks.check_kg_equal(
                _rows(io.read("vertices")), _rows(io.read("fused_edges")), *self._want_kg)
        return Job(wall, self.props["turns"], [wall], int(bool(problems)), problems,
                   {"acks": acks})

    def layer_metrics(self, jobs, spans, log) -> dict:
        done = [s for s in spans if "t1" in s]
        batches = [s for s in done if s["layer"] == "checkpoint.batch"]
        groups = {s["group"] for s in batches}
        groups |= {s["group"] for s in done if s["parent"] in groups}
        n_jobs = sum(1 for j in log["jobs"].values() if j["group"] in groups)
        # turns the resumed run processed / turns the stopped run left unacked
        unacked = redone = 0
        before = set(self._acked_after_stop)
        for j in jobs:
            unacked += sum(self._bucket_turns.get(b, 0)
                           for b in set(range(self.N_BUCKETS)) - before)
            redone += sum(self._bucket_turns.get(b, 0) for b in set(j.extra["acks"]) - before)
        prune = [s["t1"] - s["t0"] for s in done if s["layer"] == "checkpoint.prune"]
        return {
            "checkpoint.batch_s": statistics.median(s["t1"] - s["t0"] for s in batches),
            "checkpoint.jobs_per_batch": n_jobs / len(batches),
            "checkpoint.input_passes": input_records(done, log, "assembly")
            / (self.props["turns"] * len(jobs)),
            "checkpoint.redo_share": redone / unacked if unacked else 0,
            "checkpoint.prune_s": sum(prune) / len(jobs),
        }


class KgStream(Workload):
    """stream_build_kg with its defaults over edge micro-batches, one
    file per trigger, run with availableNow."""

    name, item, op_metric = "kg_stream", "edges", "microbatch_p50_s"
    WARMUP = False
    N_BATCHES, EDGES_PER_BATCH = 12, 300
    OPS_PER_JOB = N_BATCHES
    COMPACT_EVERY = 10  # stream_build_kg's default

    def generate(self):
        batches, self.props = inputs.edge_batches(
            self.seed, self.N_BATCHES, self.EDGES_PER_BATCH)
        path = _fresh(f"{self.dir}/in")
        for i, t in enumerate(batches):
            pq.write_table(t, f"{path}/batch-{i:04d}.parquet")

    def prepare(self):
        from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg

        edges = self.spark.read.schema(inputs.EDGE_DDL).parquet(f"{self.dir}/in")
        vertices, fused = build_kg(edges)
        self._want = (_rows(vertices), _rows(fused))

    def run_once(self) -> Job:
        from information_extraction_for_chinese_nlp_spark.streaming.stream import (
            stream_build_kg,
        )

        out, ckpt = _fresh(f"{self.dir}/kg"), _fresh(f"{self.dir}/ckpt")
        stream = (self.spark.readStream.schema(inputs.EDGE_DDL)
                  .option("maxFilesPerTrigger", 1).parquet(f"{self.dir}/in"))
        t0 = time.perf_counter()
        query = stream_build_kg(stream, out, ckpt)
        query.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        op_s = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        extra = {
            "queries": [str(query.id)],
            "add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in progress],
            "compaction_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress
                             if p["batchId"] > 0 and p["batchId"] % self.COMPACT_EVERY == 0],
            "state_bytes": state_bytes(out),
        }

        with self.span("check"):
            last = max(int(d.split("=")[1]) for d in os.listdir(f"{out}/fused")
                       if d.startswith("batch_id="))
            got_v = _rows(self.spark.read.parquet(f"{out}/vertices/batch_id={last}"))
            got_f = _rows(self.spark.read.parquet(f"{out}/fused/batch_id={last}"))
            problems = checks.check_kg_equal(got_v, got_f, *self._want)
        if len(op_s) != self.N_BATCHES:
            problems.append(f"{len(op_s)} micro-batches ran, {self.N_BATCHES} expected")
        # a failed end-of-run check fails every micro-batch of the run
        return Job(wall, self.props["edges"], op_s,
                   len(op_s) if problems else 0, problems, extra)

    def layer_metrics(self, jobs, spans, log) -> dict:
        add = [x for j in jobs for x in j.extra["add_batch_ms"]]
        comp = [x for j in jobs for x in j.extra["compaction_s"]]
        return {
            "stream.add_batch_ms": statistics.median(add),
            "stream.state_bytes": statistics.median(j.extra["state_bytes"] for j in jobs),
            "stream.compaction_batch_s": statistics.median(comp) if comp else 0,
        }


class CorpusCurate(Workload):
    """scripts/run_dataprep.py as one curate() call: line dedup, MinHash
    dedup, decontaminate, quality filter, PII scrub, stratified sample,
    parquet write."""

    name, item = "corpus_curate", "docs"
    N_DOCS = 2000
    RECIPE = dict(line_dedup_min_df=20, decontam_n=8, min_quality=0.3,
                  scrub=True, sample_fractions={"en": 0.8, "zh": 1.0},
                  max_bucket=64)

    def generate(self):
        tables, self.props = inputs.corpus(self.seed, self.N_DOCS)
        self._pii = self.props.pop("pii")
        self._in_ids = tables["docs"].column("doc_id").to_pylist()
        self._eval = tables["eval"].column("text").to_pylist()
        for name, t in tables.items():
            pq.write_table(t, _fresh(f"{self.dir}/{name}") + "/part-0.parquet")

    def prepare(self):
        pass

    def run_once(self) -> Job:
        from information_extraction_for_chinese_nlp_spark.operators.curation import (
            curate,
        )

        out = f"{self.dir}/out"
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(f"{self.dir}/docs")
        eval_docs = self.spark.read.parquet(f"{self.dir}/eval")
        curate(docs, eval_docs=eval_docs, **self.RECIPE).write.mode(
            "overwrite").parquet(out)
        wall = time.perf_counter() - t0

        with self.span("check"):
            rows = _rows(self.spark.read.parquet(out).select("doc_id", "text"))
        problems = checks.check_curated(rows, self._in_ids, self._eval, self._pii,
                                        n=self.RECIPE["decontam_n"])
        return Job(wall, self.props["docs"], [wall], int(bool(problems)), problems,
                   {"docs_out": len(rows)})


WORKLOADS = {w.name: w for w in (KgBatch, KgResume, KgStream, CorpusCurate)}
