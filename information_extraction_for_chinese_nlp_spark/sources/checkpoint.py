"""Resumable execution: per-partition watermarks + LEFT ANTI skip.

north_rule: "every stage checkpoints per-partition watermarks and
lineage so a killed run resumes without recomputing completed Iceberg
snapshots." Mechanism:

- work is bucketed by a stable hash of the partition key
  (``pmod(xxhash64(conv_id), n_buckets)``) and processed in bucket
  batches;
- each completed batch appends an output snapshot (TableIO) and then
  ONE watermark snapshot to a warehouse table named
  ``<table>__wm`` carrying a row per bucket of the batch. The ack is
  atomic: all buckets of a batch become visible in a single manifest
  swap, so a kill can never leave a snapshot acknowledged by some of
  its buckets but not others (a partially-acked snapshot would survive
  pruning while its unacked buckets re-run — doubling rows);
- watermark state lives in the warehouse (a real Iceberg table when the
  runtime is present), NOT in driver-local files, so resume survives
  driver loss on a cluster; it is namespaced per output table, so two
  pipelines sharing a warehouse never see each other's progress;
- on (re)start, ONE read of the watermark table gives both the acked
  snapshot ids and the done buckets: orphan output snapshots (no
  watermark) are pruned, then only buckets with no watermark run
  (``pending`` is the same skip as an input LEFT ANTI JOIN watermarks
  on bucket), so completed buckets are never rescanned past the
  filter — at scale this prunes at the source when the input is
  bucketed or partitioned by the same key.

The reference's closest concept is training checkpoint resume
(reference run_train.py:100-117); this generalizes it to dataflow.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .catalog import TableIO

WATERMARK_SCHEMA = ("bucket int, snapshot_id string, snapshot_rows long, "
                    "completed_at double")


class ResumableRunner:
    """Drive a bucket-partitioned pipeline writing ``table`` with resume.

    One runner per output table — the watermark table ``<table>__wm``
    is derived from it, which namespaces progress per table by
    construction.
    """

    def __init__(self, spark: SparkSession, io: TableIO, table: str,
                 n_buckets: int = 16, key_col: str = "conv_id"):
        self.spark = spark
        self.io = io
        self.table = table
        self.wm_table = f"{table}__wm"
        self.n_buckets = n_buckets
        self.key_col = key_col

    # -- watermark table ----------------------------------------------------

    def watermarks(self) -> DataFrame:
        df = self.io.read_if_exists(self.wm_table)
        if df is None:
            return local_frame(self.spark, [], WATERMARK_SCHEMA)
        return df

    def done_buckets(self) -> set[int]:
        return {
            r.bucket
            for r in self.watermarks().select("bucket").distinct().collect()
        }

    def _ack_batch(self, buckets: list[int], snapshot_id: str, n_rows: int) -> None:
        """ONE append for the whole batch: every bucket of the batch is
        acknowledged in a single atomic manifest swap, or none is.

        The ack rows are a :func:`session.local_frame` (a
        ``LocalRelation``). Built from the row list they are a pickled
        ``LogicalRDD``, and the write job then starts Python workers to
        unpickle 4 rows: a traced ``kg_resume`` batch took 1.87 s that
        way and 0.99 s with the local frame (4 cores, BASELINE.md
        "Driver-side frames from Arrow tables")."""
        now = time.time()
        rows = [(int(b), snapshot_id, int(n_rows), float(now)) for b in buckets]
        df = local_frame(self.spark, rows, WATERMARK_SCHEMA)
        self.io.write(df.coalesce(1), self.wm_table, mode="append")

    def metrics(self) -> dict:
        """Run-progress metrics from the lineage state (north_rule:
        per-partition lineage + metrics): bucket completion, rows per
        acknowledged snapshot, and ack timestamps."""
        wm = self.watermarks()
        rows = wm.collect()
        by_snap: dict[str, dict] = {}
        for r in rows:
            s = by_snap.setdefault(
                r.snapshot_id,
                {"snapshot_id": r.snapshot_id, "buckets": [],
                 "snapshot_rows": r.snapshot_rows, "completed_at": r.completed_at},
            )
            s["buckets"].append(r.bucket)
        done = {r.bucket for r in rows}
        return {
            "table": self.table,
            "n_buckets": self.n_buckets,
            "buckets_done": len(done),
            "buckets_pending": self.n_buckets - len(done),
            "rows_acked": sum(s["snapshot_rows"] for s in by_snap.values()),
            "snapshots": sorted(
                ({**s, "buckets": sorted(s["buckets"])} for s in by_snap.values()),
                key=lambda s: s["completed_at"],
            ),
        }

    # -- execution ----------------------------------------------------------

    def bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets)).cast("int")

    def reset(self) -> None:
        """Truncate the watermark table — REQUIRED after the output table
        is rebuilt outside the runner (e.g. a non-resume overwrite):
        stale acks make the next resume run (a) prune the fresh snapshot
        as an orphan, destroying it, and (b) treat every bucket as done,
        so nothing re-runs and reads fail on an empty manifest."""
        empty = local_frame(self.spark, [], WATERMARK_SCHEMA)
        self.io.write(empty, self.wm_table, mode="overwrite")

    def pending(self, df: DataFrame) -> DataFrame:
        """Input minus completed buckets, via LEFT ANTI join on bucket.
        Returns the INPUT schema (the internal bucket column is dropped,
        matching what ``run`` hands to ``process``)."""
        with_bucket = df.withColumn("_bucket", self.bucket_col())
        wm = self.watermarks().select(F.col("bucket").alias("_bucket")).distinct()
        return with_bucket.join(
            F.broadcast(wm), on="_bucket", how="left_anti"
        ).drop("_bucket")

    def run(
        self,
        df: DataFrame,
        process: Callable[[DataFrame], DataFrame],
        buckets_per_batch: int = 4,
        stamp_snapshot_col: str | None = "snapshot_id",
    ) -> int:
        """Process all pending buckets in batches; returns rows written
        by THIS run (the table total is ``io.read(table).count()``).

        Commit order per batch: output snapshot append, then one atomic
        watermark append covering every bucket of the batch (each row
        carries the shared snapshot_id and the snapshot's total row
        count as ``snapshot_rows``). A kill between batches loses
        nothing; a kill inside a batch is healed on the next run by
        ``TableIO.prune_unacked`` (an appended snapshot whose batch was
        never acked is discarded before the batch re-runs — and the
        single-append ack means 'partially acked' cannot exist).

        One collect of the watermark table's (bucket, snapshot_id) rows
        gives both the acked snapshot ids for the prune and the done
        buckets: on a done warehouse that is one scan and 2 jobs, where
        a read per question takes two scans and 6 jobs (local[4], AQE
        on; ``tests/test_resume.py`` pins the count). Storage-mode
        specifics of the prune (manifest entries vs row-level DELETE on
        the stamp column) live behind ``prune_unacked``.
        """
        if self.io.use_iceberg and not stamp_snapshot_col:
            raise ValueError(
                "Iceberg mode requires stamp_snapshot_col: orphan pruning "
                "is a row-level DELETE keyed on the provenance column"
            )
        acks = self.watermarks().select("bucket", "snapshot_id").collect()
        # an orphan snapshot (appended, never acked) would double the
        # rows of its batch, which re-runs
        self.io.prune_unacked(
            self.table, {r.snapshot_id for r in acks},
            stamp_col=stamp_snapshot_col or "snapshot_id",
        )
        done = {r.bucket for r in acks}
        todo = [b for b in range(self.n_buckets) if b not in done]
        written = 0
        with_bucket = df.withColumn("_bucket", self.bucket_col())
        for i in range(0, len(todo), buckets_per_batch):
            batch = todo[i : i + buckets_per_batch]
            part = with_bucket.filter(F.col("_bucket").isin(batch)).drop("_bucket")
            out = process(part)
            # write once, count what was written — running count() on the
            # unmaterialized plan would execute the whole pipeline twice
            snapshot_id = self.io.write(
                out, self.table, mode="append", stamp_snapshot_col=stamp_snapshot_col
            )
            n = self.io.count_snapshot_rows(
                self.table, snapshot_id, stamp_col=stamp_snapshot_col
            )
            self._ack_batch(batch, snapshot_id, n)
            written += n
        return written
