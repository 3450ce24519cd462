"""Table IO: source readers, sinks and an Iceberg-or-parquet writer facade.

The design target is Iceberg (snapshot lineage, hidden partitioning);
this sandbox has no Iceberg runtime jar, so ``TableIO`` falls back to
parquet plus a JSON manifest that records snapshot ids — the same
interface either way, so the pipeline code never branches.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """S1 — one trimmed document per line (reference run_infer.py:123-125)."""
    from pyspark.sql import functions as F

    return spark.read.text(path).select(F.trim("value").alias("text"))


def read_json_arrays(spark: SparkSession, path: str) -> DataFrame:
    """S2 — file whose top level is a JSON array (or one array per
    line); rows are the flattened elements (reference
    utils/json_utils.py:71-91). Schema is inferred; pass through
    ``spark.read.json`` options for explicit schemas at scale."""
    return spark.read.option("multiLine", "true").json(path)


def read_csv_table(spark: SparkSession, path: str) -> DataFrame:
    """S4 — header CSV (reference tools/regularize_money_from_csv_results.py:171)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1 — one JSON object per line; non-ASCII kept raw like the
    reference's ensure_ascii=False (Spark writes UTF-8 natively)."""
    df.write.mode(mode).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3 — header CSV sink."""
    df.write.mode(mode).option("header", "true").csv(path)


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        # py4j resolves missing classes to JavaPackage lazily, so probe
        # with an actual classload instead of attribute access.
        spark._jvm.java.lang.Class.forName(  # type: ignore[attr-defined]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return any(
            "iceberg" in str(v).lower()
            for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.sql.catalog")
        )
    except Exception:
        return False


class TableIO:
    """Write/read named tables with snapshot lineage.

    Iceberg when the runtime is present; otherwise parquet subdirs +
    ``_manifest.json`` mapping table -> list of snapshot records.

    Concurrency contract (parquet mode): SINGLE-PROCESS. ``overwrite``
    and ``prune_unacked`` delete superseded snapshot directories
    immediately after the manifest commit, so a concurrent reader that
    resolved paths from the old manifest can hit FileNotFound mid-scan
    (Spark reads lazily). That matches the pipeline's checkpoint/resume
    design — one driver owns a warehouse at a time. A shared warehouse
    needs a real catalog with snapshot isolation (the Iceberg branch:
    readers pin a snapshot, expired files age out via retention), not
    this manifest; alternatively defer deletions with a grace window.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.use_iceberg = _iceberg_available(spark)
        os.makedirs(warehouse, exist_ok=True)
        self._manifest_path = os.path.join(warehouse, "_manifest.json")

    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path)

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: Sequence[str] = (),
              stamp_snapshot_col: str | None = None) -> str:
        """Write and return the new snapshot id.

        ``stamp_snapshot_col``: also embed the snapshot id in every row
        (provenance column, FIXTURES.md F7) so rows are traceable to
        their lineage entry without joining the manifest."""
        snapshot_id = uuid.uuid4().hex[:16]
        if stamp_snapshot_col:
            from pyspark.sql import functions as F

            df = df.withColumn(stamp_snapshot_col, F.lit(snapshot_id))
        if self.use_iceberg:  # pragma: no cover - no Iceberg jar in sandbox
            full = f"{self.warehouse}.{table}"
            writer = df.writeTo(full)
            # bootstrap: writeTo(...).append() THROWS on a nonexistent
            # table, so a fresh warehouse could never take its first
            # append (ResumableRunner only ever appends) — append to a
            # missing table means create-with-contents.
            if mode == "overwrite" or not self.spark.catalog.tableExists(full):
                if partition_by:
                    # table creation is the only point Iceberg takes a
                    # partition spec; dropping it here would silently
                    # create an unpartitioned table (no pruning) while
                    # the parquet branch honors the same argument
                    from pyspark.sql import functions as F

                    writer = writer.partitionedBy(
                        *[F.col(c) for c in partition_by]
                    )
                writer.createOrReplace()
            else:
                writer.append()
            return snapshot_id
        path = os.path.join(self.warehouse, table, f"snap={snapshot_id}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        m = self._manifest()
        snaps = m.setdefault(table, [])
        replaced = []
        if mode == "overwrite":
            replaced = [s["path"] for s in snaps]
            snaps.clear()
        snaps.append({"snapshot_id": snapshot_id, "path": path})
        self._save_manifest(m)
        if replaced:
            # delete superseded snapshot dirs AFTER the manifest commit
            # (crash between the two leaves an unreferenced dir, never a
            # manifest entry pointing at deleted files); without this an
            # overwrite-per-run workload grows the warehouse unboundedly
            import shutil

            for p in replaced:
                if p != path:
                    shutil.rmtree(p, ignore_errors=True)
        return snapshot_id

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:  # pragma: no cover
            return self.spark.read.format("iceberg").load(f"{self.warehouse}.{table}")
        m = self._manifest()
        snaps = m.get(table, [])
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        paths = [s["path"] for s in snaps]
        return self.spark.read.parquet(*paths)

    def read_snapshot(self, table: str, snapshot_id: str) -> DataFrame:
        """Read exactly one snapshot of a table (lineage-addressed read)."""
        if self.use_iceberg:  # pragma: no cover
            return (
                self.spark.read.format("iceberg")
                .option("snapshot-id", snapshot_id)
                .load(f"{self.warehouse}.{table}")
            )
        for s in self._manifest().get(table, []):
            if s["snapshot_id"] == snapshot_id:
                return self.spark.read.parquet(s["path"])
        raise FileNotFoundError(f"snapshot {snapshot_id!r} of {table!r} not found")

    def snapshots(self, table: str) -> list[dict]:
        return self._manifest().get(table, [])

    # Error classes that mean "this table was never written". Anything
    # else (e.g. column resolution on a schema-damaged watermark table)
    # must PROPAGATE: misreading it as 'never written' would make
    # watermarks() return empty and ResumableRunner.run then prune
    # every acked snapshot — silently discarding completed work.
    _MISSING_TABLE_CLASSES = (
        "TABLE_OR_VIEW_NOT_FOUND",
        "PATH_NOT_FOUND",
        "UNABLE_TO_INFER_SCHEMA",  # empty path created but nothing written
    )

    @classmethod
    def _is_missing_table(cls, exc: Exception) -> bool:
        cond = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        if cond is not None:
            klass = cond()
            if klass is not None:
                return klass in cls._MISSING_TABLE_CLASSES
        return any(k in str(exc) for k in cls._MISSING_TABLE_CLASSES)

    def read_if_exists(self, table: str) -> DataFrame | None:
        """read(), or None when the table was never written — in either
        storage mode (parquet manifest: FileNotFoundError; Iceberg:
        missing-table AnalysisException)."""
        try:
            return self.read(table)
        except FileNotFoundError:
            return None
        except Exception as exc:
            from pyspark.errors import AnalysisException

            if isinstance(exc, AnalysisException) and self._is_missing_table(exc):
                return None
            raise

    def prune_unacked(self, table: str, acked_ids: set[str],
                      stamp_col: str = "snapshot_id") -> int:
        """Remove data whose snapshot id is NOT in ``acked_ids``.
        Parquet mode drops manifest entries (file-level); Iceberg mode
        issues a row-level DELETE keyed on the stamped provenance
        column (TableIO snapshot ids are its own, not Iceberg's).
        Returns the pruned snapshot count (-1 in Iceberg mode: the
        delete is the contract, the count isn't tracked)."""
        if self.use_iceberg:  # pragma: no cover - no Iceberg jar here
            from pyspark.errors import AnalysisException

            ids = ", ".join(f"'{s}'" for s in sorted(acked_ids)) or "''"
            try:
                self.spark.sql(
                    f"DELETE FROM {self.warehouse}.{table} "
                    f"WHERE {stamp_col} NOT IN ({ids})"
                )
            except AnalysisException as exc:
                if not self._is_missing_table(exc):
                    raise
            return -1
        m = self._manifest()
        snaps = m.get(table, [])
        orphans = [s for s in snaps if s["snapshot_id"] not in acked_ids]
        if orphans:
            m[table] = [s for s in snaps if s["snapshot_id"] in acked_ids]
            self._save_manifest(m)
            # manifest entry AND the files: pruned snapshots must not
            # accumulate readable orphan parquet directories forever
            # (delete AFTER the manifest commit — a crash between the
            # two leaves an unreferenced dir, never a dangling manifest
            # entry pointing at deleted files)
            import shutil

            for s in orphans:
                shutil.rmtree(s["path"], ignore_errors=True)
        return len(orphans)

    def count_snapshot_rows(self, table: str, snapshot_id: str,
                            stamp_col: str | None = "snapshot_id") -> int:
        """Rows belonging to one snapshot — file-addressed in parquet
        mode, stamp-column-addressed in Iceberg mode (``stamp_col``
        defaults to the same provenance column ``prune_unacked`` uses,
        so the default signature works in both modes)."""
        if self.use_iceberg:  # pragma: no cover - no Iceberg jar here
            from pyspark.sql import functions as F

            df = self.read(table)
            if stamp_col is None or stamp_col not in df.columns:
                raise ValueError(
                    f"count_snapshot_rows on Iceberg table {table!r} needs a "
                    f"snapshot-stamp column, but {stamp_col!r} is not in the "
                    f"table schema ({df.columns}); write() the table with "
                    f"stamp_snapshot_col={stamp_col!r} or pass the stamp "
                    "column this table actually carries"
                )
            return df.filter(F.col(stamp_col) == snapshot_id).count()
        return self.read_snapshot(table, snapshot_id).count()
