"""Per-key bench harness: per-query isolation, noop-sink timing, and
``explain("formatted")`` capture for the bench.py queries.

Usage:
    python bench_extra.py q10_cc_full q12_pagerank_2m --iters 3
    python bench_extra.py --explain q10_cc_full --out plans/r08/q10_cc_full_before.txt
    python bench_extra.py --all --iters 3

The keys, fixtures and timed action are bench.py's own
(``bench.build_frames`` / ``bench.force``), min-of-k; ``--noop`` swaps
the action for a noop sink write so column pruning cannot hide work
(guide §1.4). Explain output is the pre-execution plan
(AdaptiveSparkPlan isFinalPlan=false) — the shape evidence the round
deliverables require.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402

CPUS = bench.CPUS


def _run_once(key, built, noop: bool) -> None:
    if not noop:
        bench.force(key, built)
        return
    for df in built if isinstance(built, tuple) else (built,):
        df.write.format("noop").mode("overwrite").save()


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
    frames = bench.build_frames(spark)

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
            _run_once(key, frames[key](), noop)
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        print(json.dumps({"key": key, "sec": round(best, 3),
                          "samples": samples, "noop": noop}))
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
