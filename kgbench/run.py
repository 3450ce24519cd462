"""Benchmark of record for the KG engine.

    python3 kgbench/run.py --workload kg_resume --seed 1 --seconds 6 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 6

Run from the repository root. One run starts one Spark session with the
library's ``session.get_spark`` at local[N], N = the CPUs this process
may use; generates its inputs from ``--seed``; sets up (session start,
input generation, output-check references, a warm-up job); then runs
the workload as a closed loop with one client for ``--seconds`` seconds,
checking every output. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full run record (versions, confs, input sizes and
shares, every metric the workload defines) is appended to
``.kgbench/runs.jsonl``; nothing else is written outside ``.kgbench/``.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = "information_extraction_for_chinese_nlp_spark"
OUT = os.path.join(ROOT, ".kgbench")
NAMES = ("kg_batch", "kg_resume", "kg_stream", "corpus_curate")
# the end-to-end metrics every workload prints; the run record adds the
# workload's own names for them and the unbounded ones
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]):
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it -> (value, percentile, samples beyond), or Nones."""
    xs = sorted(values)
    for p in (99, 95, 90, 75, 50):
        k = math.ceil(p / 100 * len(xs))
        if len(xs) - k >= 10:
            return xs[k - 1], p, len(xs) - k
    return None, None, 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the driver JVM and
    the PySpark worker processes."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    mine, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        mine += kids
        todo += kids
    kb = 0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def git_commit() -> str | None:
    # a checkout that is no git repository must not pick up the commit of
    # a repository above it
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def start_session(name: str, work: str, trace: bool):
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"kgbench-{name}", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(args, work: str) -> dict:
    from kgbench import trace as tr
    from kgbench.workloads import WORKLOADS

    spark = start_session(args.workload, work, bool(args.trace))
    try:
        session_s = time.perf_counter() - T_START
        tracer = tr.Tracer(spark) if args.trace else None
        restore = tr.install_layer_wrappers(tracer) if tracer else None
        wl = WORKLOADS[args.workload](spark, f"{work}/data", args.seed, tracer)

        t = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        # warm-up: starts the Python workers and compiles the plans; its
        # output is checked and counted, its time goes to set-up
        t = time.perf_counter()
        jobs = [_attempt(wl)] if wl.WARMUP else []
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        timed, traced, queries = [], [], set()
        t0 = time.perf_counter()
        while (not timed or (tracer is not None and not traced)
               or time.perf_counter() - t0 < args.seconds):
            if tracer is not None and len(traced) < len(timed):
                tracer.active = True
                with tracer.span("op"):
                    traced.append(_attempt(wl))
                tracer.active = False
                queries |= set(traced[-1].extra.get("queries", ()))
            else:
                timed.append(_attempt(wl))
        rss = peak_rss_mb()
        if restore:
            restore()
        record = {
            "setup": {"session_s": session_s, "generate_s": generate_s,
                      "prepare_s": prepare_s, "warmup_s": warmup_s},
            "confs": dict(spark.sparkContext.getConf().getAll()),
            "versions": {"spark": spark.version},
        }
    finally:
        stop_session(spark)

    jobs += timed + traced
    record["jobs"] = [{"wall_s": j.wall_s, "op_s": j.op_s, "failed": j.failed,
                       "problems": j.problems, **j.extra} for j in jobs]
    record["input"] = wl.props
    metrics = workload_metrics(wl, jobs, timed, setup_s, rss)
    if tracer is not None:
        log = tr.read_event_log(f"{work}/eventlog")
        layers = tr.layer_metrics(tracer.spans, log, len(traced), queries)
        layers.update(wl.layer_metrics(traced, tracer.spans, log))
        layers["trace.overhead_s"] = (statistics.median(j.wall_s for j in traced)
                                      - statistics.median(j.wall_s for j in timed))
        record["layers"] = layers
    record["metrics"] = metrics
    record["attempted"] = sum(j.ops for j in jobs)
    record["failed"] = sum(j.failed for j in jobs)
    return record


def _attempt(wl):
    """One job; a job that raises fails every operation it would run."""
    from kgbench.workloads import Job

    t = time.perf_counter()
    try:
        return wl.run_once()
    except Exception:  # a benchmark run must report the failure and go on
        traceback.print_exc()
        n = getattr(wl, "OPS_PER_JOB", 1)
        return Job(time.perf_counter() - t, 0, [time.perf_counter() - t] * n, n,
                   ["raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1]])


def workload_metrics(wl, jobs, timed, setup_s: float, rss: float) -> dict:
    """``end_to_end``: the printed metrics, medians over the timed jobs
    that passed their check; ``named``: the same under the workload's own
    names, plus the metrics that are in the run record only."""
    ok = [j for j in timed if not j.failed] or timed
    op_s = [x for j in ok for x in j.op_s]
    m = {"setup_s": setup_s,
         "items_per_s": statistics.median(j.items / j.wall_s for j in ok)}
    named = {f"{wl.item}_per_s": m["items_per_s"], wl.op_metric: statistics.median(op_s),
             "peak_rss_mb": rss,
             "error_rate": sum(j.failed for j in jobs) / max(sum(j.ops for j in jobs), 1)}
    if wl.name == "kg_stream":
        value, pct, beyond = tail(op_s)
        named.update({"microbatch_tail_s": value, "microbatch_tail_pct": pct,
                      "microbatch_tail_beyond": beyond, "microbatches": len(op_s)})
    return {"end_to_end": m, "named": named}


def single(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, LIBRARY)):
        print(f"kgbench: the library package {LIBRARY}/ is not next to kgbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/tmp",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    try:
        record = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyarrow

    log = os.path.join(OUT, "runs.jsonl")
    with open(log, "a+") as f:
        f.seek(0)
        run_index = sum(1 for _ in f)  # the records written before this one
    record.update({
        "workload": args.workload, "seed": args.seed, "run_index": run_index,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus(),
        "commit": git_commit(),
    })
    record["versions"].update({"pyarrow": pyarrow.__version__,
                               "python": platform.python_version()})
    with open(log, "a") as f:
        f.write(json.dumps(record, default=str) + "\n")

    correct = record["failed"] == 0
    for job in record["jobs"]:
        for p in job["problems"]:
            print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        # a layer the workload does not run reads 0
        layers = record["layers"]
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        e2e = record["metrics"]["end_to_end"]
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        for k, v in record["metrics"]["named"].items():
            print(f"{args.workload} {k} = {v}")
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload of BENCHMARK.json in its own process, one summary
    line per metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    status = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = res.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            out = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"{name}: no result (exit {res.returncode})\n{res.stderr[-2000:]}")
            status = 1
            continue
        for k, v in out["metrics"].items():
            print(f"{name} {k} = {v['value']:.6g} {v['unit']}")
        print(f"{name} attempted = {out['attempted']} failed = {out['failed']}")
        status |= res.returncode != 0 or not out["correct"]
    return int(status)


LAYER_UNITS = {
    "assembly.wall_s": "s", "assembly.shuffle_write_bytes": "bytes",
    "assembly.task_skew": "ratio", "assembly.docs": "count",
    "scorer.wall_s": "s", "scorer.python_s": "s", "scorer.arrow_bytes": "bytes",
    "scorer.task_skew": "ratio", "scorer.spans": "count",
    "normalize.wall_s": "s", "normalize.python_s": "s", "normalize.raw_share": "ratio",
    "link.wall_s": "s", "link.surfaces": "count", "link.pairs": "count",
    "link.max_bucket": "count", "link.dropped_ids": "count",
    "cc.wall_s": "s", "cc.jobs": "count", "cc.shuffle_write_bytes": "bytes",
    "fusion.wall_s": "s", "fusion.facts": "count",
    "catalog.write_s": "s", "catalog.bytes_written": "bytes", "catalog.snapshots": "count",
    "checkpoint.batch_s": "s", "checkpoint.jobs_per_batch": "count",
    "checkpoint.input_passes": "ratio", "checkpoint.redo_share": "ratio",
    "checkpoint.prune_s": "s",
    "dedup.wall_s": "s", "dedup.python_s": "s", "dedup.shuffle_write_bytes": "bytes",
    "dedup.spill_bytes": "bytes", "dedup.max_bucket": "count", "dedup.dropped_ids": "count",
    "decontam.wall_s": "s", "quality.wall_s": "s", "pii.wall_s": "s",
    "jvm.gc_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "trace.overhead_s": "s",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else single(args)


if __name__ == "__main__":
    sys.exit(main())
