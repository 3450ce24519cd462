"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and work unchanged on
local[N]: AQE on (runtime coalesce + skew-join splitting), Arrow enabled
for every pandas UDF boundary, shuffle partitions sized by the
environment, and broadcast threshold left to Spark (we additionally hint
explicitly where a side is known-small).

``get_spark`` is the only place this package sets a conf. Operators
never write session confs or SparkContext state (checkpoint dir
included): they shape their own plans with frame-local hints and
repartitions, and a caller that wants reliable checkpoints sets the
checkpoint dir itself.

``local_frame`` is the only place library code builds a frame from
driver-side rows (the gate fixtures in ``plans/queries_*.py`` aside).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ie-kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit own the
    master / executor topology; everything here is cluster-size agnostic.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # the static shuffle-partition count is always wrong somewhere; AQE
        # re-plans from actual map output sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES (minPartitionSize
        # default 1m). Our hot stages are CPU-bound pandas UDFs where 1 MB
        # of text is seconds of compute, so byte-coalescing starves cores:
        # the fused extraction stage ran on 3 of 32 partitions. Paired
        # interleaved A/B (r7, min-of-4/cell, sf0.1): 64k floor wins the
        # Python-stage-bound keys big (q2c 5.22->2.09s, q4c 4.90->1.93s,
        # q1 1.68->1.38s, q8 10.02->8.54s). The r7 payer was iterative
        # full CC (q10 10.39->11.56s, shuffle-light tiny iterations x
        # more tasks); its unhinted rounds shuffle on a fixed,
        # edge-count-derived partition count that AQE does not coalesce
        # (components._LOOP_ROWS_PER_PARTITION), so this floor does not
        # reach them. An explicit
        # repartition(32) matched the q1 gain but costs an extra
        # Exchange at scale. Coalescing can only shrink below
        # shuffle.partitions, so the worst case stays
        # bounded at `shuffle_partitions` tasks — and at real 100 TB
        # partition sizes the floor is never the binding constraint.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # InferFiltersFromGenerate injects `size(e) > 0 AND isnotnull(e)`
        # under every explode(e) — for this engine's generators e is an
        # expensive derived array (higher-order shingle/band/bit
        # expressions, interpreted because HOFs never codegen), so the
        # inferred filter RE-EVALUATES the whole array expression once
        # per row on top of the Generate's own evaluation: measured 2.1x
        # on the shingle explode (2.47s -> 1.17s at sf0.1, r8) and it
        # can never prune anything explode itself wouldn't drop. The
        # rule exists to enable join/scan pushdown of the emptiness
        # check, which no plan in this engine has (generators sit
        # directly over scans/projections).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQEPropagateEmptyRelation replaces a subtree over an empty query
        # stage with an empty relation, and the CollectMetrics nodes inside
        # that subtree go with it: when a bucket cap drops EVERY bucket, the
        # pairs stage is empty and `observation.get` raised instead of
        # reporting the drop (tests/test_bucket_contract.py). Without the
        # rule an empty stage still schedules its (empty) downstream tasks.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        # Shuffled hash join over sort-merge when the build side fits
        # (guide §9 baseline): the iterative graph loops join a big
        # edge table against a rank/label vector every round — skipping
        # the per-round sorts measured −6% on q12-shape PageRank and
        # −3% on full CC (paired A/B, r8). Static planning prefers SHJ
        # only when its size conditions hold, and the AQE threshold
        # converts SMJ→SHJ at runtime from ACTUAL map sizes (64m per
        # partition — size-guarded, so the OOM risk class is the same
        # as any AQE decision, and it scales by construction).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / mapInPandas boundaries (the scorer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Deterministic session timezone so ts math is stable everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # normalized: the conf is strictly boolean — a raw SPARK_UI=1
        # would crash getOrCreate with IllegalArgumentException
        .config(
            "spark.ui.enabled",
            str(
                os.environ.get("SPARK_UI", "false").strip().lower()
                in ("1", "true", "yes", "on")
            ).lower(),
        )
        # local mode puts every reducer's collect_list buffer in one heap;
        # an undersized heap turns the assembly stage into GC thrash
        # (measured: 3-5x wall-time outliers at local[32] with 8g).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` field order) as a frame
    that plans as a ``LocalRelation``: no job builds it and no Python
    worker runs when it is read.

    ``spark.createDataFrame(list_of_tuples, schema)`` plans as a
    ``LogicalRDD`` over a pickled ``PythonRDD`` instead, and every job
    that reads it starts Python workers to unpickle the rows. Measured
    on 4 cores (``local[4]``, 10 alternating writes each): a 4-row
    frame written as parquet took 0.65/0.85 s (min/median) from a list
    and 0.11/0.15 s from an Arrow table; a 200k-row two-column frame
    builds and counts in about the same time either way (BASELINE.md
    "Driver-side frames from Arrow tables").
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
