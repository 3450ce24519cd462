"""Traced-run collector: layer spans tagged by Spark job group, read back
from the Spark event log.

While tracing is active, every call into a layer's public function goes
through a wrapper (installed by ``install_layer_wrappers``, no library
change) that

- opens a span: a bench-set job group plus wall-clock start/end, nested
  under the span that was open when it started;
- materializes the call's output at the layer boundary with an eager
  ``localCheckpoint`` so the layer's work runs inside its own span;
- records counts at the boundary (rows out, bucket observations).

After the session stops, ``layer_metrics`` joins the spans with the
event log (job -> job group, stage -> task metrics and SQL
accumulables) into the per-layer metrics. A layer's time is the self
time of its spans: span duration minus the part covered by child spans.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

TRACE_GROUP = "trace"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.active = False

    def begin(self, layer: str, **attrs) -> dict:
        group = f"kgbench:{layer}:{len(self.spans)}"
        rec = {"layer": layer, "group": group, "t0": time.perf_counter(),
               "parent": self._stack[-1]["group"] if self._stack else None,
               "prev_group": self.sc.getLocalProperty("spark.jobGroup.id"),
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, layer)
        return rec

    def end(self, rec: dict) -> None:
        rec["t1"] = time.perf_counter()
        rec["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
        self._stack.remove(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec.pop("prev_group"))

    @contextmanager
    def span(self, layer: str, **attrs):
        if not self.active:
            yield {}
            return
        rec = self.begin(layer, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)


def span_or_null(tracer, layer: str):
    return tracer.span(layer) if tracer is not None else nullcontext({})


def _observed(obs, timeout: float = 30.0) -> dict:
    """Observation.get blocks until the metrics arrive; never wait
    forever on a plan shape that does not deliver them."""
    out: list = []
    t = threading.Thread(target=lambda: out.append(obs.get), daemon=True)
    t.start()
    t.join(timeout)
    return out[0] if out else {}


def install_layer_wrappers(tracer: Tracer):
    """Wrap each layer's public function; returns an undo callable."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators import (
        components, curation, dedup, fusion,
    )
    from information_extraction_for_chinese_nlp_spark.operators.textstats import (
        pii_scrub_col, quality_feature_cols,
    )
    from information_extraction_for_chinese_nlp_spark.plans import graph, pipeline
    from information_extraction_for_chinese_nlp_spark.sources import catalog

    undo = []

    def count(df) -> int:
        with tracer.span(TRACE_GROUP):
            return df.count()

    def patch(owner, name, layer, after=None, observe=False):
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            obs = None
            if observe and kwargs.get("observation") is None:
                obs = kwargs["observation"] = Observation(f"kgbench-{layer}")
            with tracer.span(layer) as rec:
                out = fn(*args, **kwargs).localCheckpoint(eager=True)
            if obs is not None:
                rec["observed"] = _observed(obs)
            if after is not None:
                after(rec, out, args, kwargs)
            return out

        setattr(owner, name, wrapper)
        undo.append(lambda: setattr(owner, name, fn))

    def rows(rec, out, args, kwargs):
        rec["rows"] = count(out)

    def normalized(rec, out, args, kwargs):
        rec["rows"] = count(out)
        rec["raw_rows"] = count(out.filter(F.col("obj_norm") == "nan"))

    def linked(rec, out, args, kwargs):
        rec["rows"] = count(out)
        rec["surfaces"] = count(
            args[0].filter(F.col("obj_norm") == "nan").select("pred", "obj").distinct())

    def decontaminated(rec, out, args, kwargs):
        # quality filter and PII scrub are inline expressions inside
        # curate(); time them at a bench boundary over the same rows
        docs = args[0]
        text = F.col(kwargs.get("text_col", "text"))
        for layer, col in (("quality", quality_feature_cols(text)["quality_score"]),
                           ("pii", pii_scrub_col(text))):
            with tracer.span(layer):
                docs.select(col).write.format("noop").mode("overwrite").save()

    patch(pipeline, "assemble_turns", "assembly", rows)
    patch(pipeline, "extract_spans", "scorer", rows)
    patch(graph, "normalize_objects", "normalize", normalized)
    patch(graph, "raw_match_pairs", "link", linked, observe=True)
    patch(graph, "connected_components", "cc")
    patch(components, "connected_components", "cc")
    patch(components, "merge_components", "cc")
    patch(fusion, "fuse_triples", "fusion", rows)
    patch(dedup, "minhash_lsh_pairs", "dedup", observe=True)
    patch(curation, "dedup_pipeline", "dedup")
    patch(curation, "decontaminate", "decontam", decontaminated)

    # line dedup returns a (frame, metrics) pair and is eager at call time
    line_dedup_rewrite = curation.line_dedup_rewrite

    @functools.wraps(line_dedup_rewrite)
    def line_dedup_wrapper(*args, **kwargs):
        with span_or_null(tracer, "dedup"):
            docs, ld = line_dedup_rewrite(*args, **kwargs)
            if tracer.active:
                docs = docs.localCheckpoint(eager=True)
        return docs, ld

    curation.line_dedup_rewrite = line_dedup_wrapper
    undo.append(lambda: setattr(curation, "line_dedup_rewrite", line_dedup_rewrite))

    write = catalog.TableIO.write

    @functools.wraps(write)
    def catalog_write(self, df, table, *args, **kwargs):
        with span_or_null(tracer, "catalog") as rec:
            snap = write(self, df, table, *args, **kwargs)
        if tracer.active:
            rec["bytes"] = _du(os.path.join(self.warehouse, table, f"snap={snap}"))
        return snap

    catalog.TableIO.write = catalog_write
    undo.append(lambda: setattr(catalog.TableIO, "write", write))

    def restore():
        for u in reversed(undo):
            u()

    return restore


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def state_bytes(out_dir: str) -> int:
    """On-disk streaming state at run end (_surfaces, _fstate, _labels)."""
    return sum(_du(os.path.join(out_dir, d)) for d in ("_surfaces", "_fstate", "_labels"))


# -- event log ---------------------------------------------------------------

_TASK = {
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill": ("Disk Bytes Spilled",),
    "records_read": ("Input Metrics", "Records Read"),
}
_ACC = {
    "python_ms": "time to run Python workers",
    "arrow_bytes": "data sent to Python workers",
}


def read_event_log(log_dir: str) -> dict:
    """-> {"jobs": {id: {"group", "stages", "batch"}},
           "stages": {id: {"tasks": [run_ms...], <sums>}}}"""
    jobs, stages = {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": e.get("Stage IDs", []),
                        "batch": props.get("streaming.sql.batchId"),
                        "query": props.get("sql.streaming.queryId"),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], {"tasks": []})
                    for key, where in _TASK.items():
                        v = m
                        for k in where:
                            v = (v or {}).get(k, 0)
                        st[key] = st.get(key, 0) + (v or 0)
                    st["tasks"].append(m.get("Executor Run Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"tasks": []})
                    for a in info.get("Accumulables", []):
                        for key, name in _ACC.items():
                            if a.get("Name") == name:
                                st[key] = st.get(key, 0) + float(a.get("Value") or 0)
    return {"jobs": jobs, "stages": stages}


def _self_time(span: dict, children: dict) -> float:
    return (span["t1"] - span["t0"]) - sum(
        c["t1"] - c["t0"] for c in children.get(span["group"], []))


def layer_metrics(spans: list[dict], log: dict, n_ops: int,
                  queries: set = frozenset()) -> dict:
    """Per-layer sums over the traced ops, divided by ``n_ops``.
    ``queries``: ids of the streaming queries the traced ops ran, whose
    micro-batch jobs belong to the ops whatever their job group."""
    spans = [s for s in spans if "t1" in s]
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs_by_group: dict = {}
    for jid, j in log["jobs"].items():
        jobs_by_group.setdefault(j["group"], []).append(jid)

    def of(layer):
        return [s for s in spans if s["layer"] == layer]

    def stages(layer):
        ids = set()
        for s in of(layer):
            for jid in jobs_by_group.get(s["group"], []):
                ids.update(log["jobs"][jid]["stages"])
        return [log["stages"][i] for i in ids if i in log["stages"]]

    def total(layer, key):
        return sum(st.get(key, 0) for st in stages(layer)) / n_ops

    def wall(layer):
        return sum(_self_time(s, children) for s in of(layer)) / n_ops

    def attr(layer, key, fn=sum):
        vals = [s[key] for s in of(layer) if key in s]
        return fn(vals) / (n_ops if fn is sum else 1) if vals else 0

    def observed(layer, key, fn):
        vals = [s["observed"][key] for s in of(layer) if s.get("observed", {}).get(key) is not None]
        return fn(vals) if vals else 0

    def skew(layer):
        busiest = max(stages(layer), key=lambda st: sum(st["tasks"]), default=None)
        if not busiest or not busiest["tasks"]:
            return 0
        return max(busiest["tasks"]) / max(statistics.median(busiest["tasks"]), 1)

    def jobs(layer):
        calls = of(layer)
        return sum(len(jobs_by_group.get(s["group"], [])) for s in calls) / max(len(calls), 1)

    norm_rows = attr("normalize", "rows")
    m = {
        "assembly.wall_s": wall("assembly"),
        "assembly.shuffle_write_bytes": total("assembly", "shuffle_write"),
        "assembly.task_skew": skew("assembly"),
        "assembly.docs": attr("assembly", "rows"),
        "scorer.wall_s": wall("scorer"),
        "scorer.python_s": total("scorer", "python_ms") / 1000,
        "scorer.arrow_bytes": total("scorer", "arrow_bytes"),
        "scorer.task_skew": skew("scorer"),
        "scorer.spans": attr("scorer", "rows"),
        "normalize.wall_s": wall("normalize"),
        "normalize.python_s": total("normalize", "python_ms") / 1000,
        "normalize.raw_share": attr("normalize", "raw_rows") / norm_rows if norm_rows else 0,
        "link.wall_s": wall("link"),
        "link.surfaces": attr("link", "surfaces"),
        "link.pairs": attr("link", "rows"),
        "link.max_bucket": observed("link", "max_bucket_size", max),
        "link.dropped_ids": observed("link", "dropped_ids", sum) / n_ops,
        "cc.wall_s": wall("cc"),
        "cc.jobs": jobs("cc"),
        "cc.shuffle_write_bytes": total("cc", "shuffle_write"),
        "fusion.wall_s": wall("fusion"),
        "fusion.facts": attr("fusion", "rows"),
        "catalog.write_s": wall("catalog"),
        "catalog.bytes_written": attr("catalog", "bytes"),
        "catalog.snapshots": len(of("catalog")) / n_ops,
        "dedup.wall_s": wall("dedup"),
        "dedup.python_s": total("dedup", "python_ms") / 1000,
        "dedup.shuffle_write_bytes": total("dedup", "shuffle_write"),
        "dedup.spill_bytes": total("dedup", "spill"),
        "dedup.max_bucket": observed("dedup", "max_bucket_size", max),
        "dedup.dropped_ids": observed("dedup", "dropped_ids", sum) / n_ops,
        "decontam.wall_s": wall("decontam"),
        "quality.wall_s": wall("quality"),
        "pii.wall_s": wall("pii"),
    }
    # the session layer: every job and task of the traced ops, checks
    # and trace bookkeeping excluded
    op_groups = _subtree(children, [s["group"] for s in of("op")],
                         skip={"check", TRACE_GROUP})
    op_jobs = {jid for g in op_groups for jid in jobs_by_group.get(g, [])}
    stream_jobs = {jid for jid, j in log["jobs"].items() if j["query"] in queries}
    op_jobs |= stream_jobs
    op_stages = {sid for jid in op_jobs for sid in log["jobs"][jid]["stages"]}
    m["jvm.gc_s"] = sum(log["stages"].get(s, {}).get("gc_ms", 0) for s in op_stages) / 1000 / n_ops
    m["spark.jobs"] = len(op_jobs) / n_ops
    m["spark.tasks"] = sum(len(log["stages"].get(s, {}).get("tasks", [])) for s in op_stages) / n_ops
    batches = {(log["jobs"][j]["query"], log["jobs"][j]["batch"]) for j in stream_jobs}
    m["stream.jobs_per_batch"] = len(stream_jobs) / len(batches) if batches else 0
    return m


def input_records(spans: list[dict], log: dict, layer: str) -> int:
    """Input records read by the stages of ``layer``'s spans."""
    groups = {s["group"] for s in spans if s["layer"] == layer}
    ids = {sid for j in log["jobs"].values() if j["group"] in groups for sid in j["stages"]}
    return sum(log["stages"].get(i, {}).get("records_read", 0) for i in ids)


def _subtree(children: dict, roots: list, skip: set) -> list:
    out, todo = [], list(roots)
    while todo:
        g = todo.pop()
        out.append(g)
        todo.extend(c["group"] for c in children.get(g, []) if c["layer"] not in skip)
    return out
