"""Kill/resume: a run killed mid-way resumes without recomputing
completed buckets and converges to the single-shot result."""

import pytest

from information_extraction_for_chinese_nlp_spark.plans.pipeline import extract_triples
from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO
from information_extraction_for_chinese_nlp_spark.sources.checkpoint import ResumableRunner
from information_extraction_for_chinese_nlp_spark.sources.transcripts import synth_transcripts


class Kill(RuntimeError):
    pass


def _edges(df):
    return extract_triples(df, max_seq_len=128)


def test_kill_and_resume(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=40, turns_per_conv=6).cache()
    expected = sorted(map(tuple, _edges(transcripts).collect()))

    io = TableIO(spark, str(tmp_path / "wh"))
    runner = ResumableRunner(spark, io, "edges", n_buckets=8)

    # First run dies after 1 batch (simulated kill).
    calls = {"n": 0}

    def dying_process(df):
        calls["n"] += 1
        if calls["n"] > 1:
            raise Kill()
        return _edges(df)

    with pytest.raises(Kill):
        runner.run(transcripts, dying_process, buckets_per_batch=2)

    done_after_kill = runner.done_buckets()
    assert 0 < len(done_after_kill) < 8, "kill should leave partial watermarks"
    partial_rows = io.read("edges").count()

    # Resume: a fresh runner over the same warehouse completes the rest.
    runner2 = ResumableRunner(spark, io, "edges", n_buckets=8)
    pending_before = runner2.pending(transcripts)
    # completed buckets never reappear in the pending slice
    assert pending_before.withColumn("_b", runner2.bucket_col()).filter(
        pending_before["conv_id"].isNotNull()
    ).select("conv_id").distinct().count() > 0

    processed_batches = {"n": 0}

    def counting_process(df):
        processed_batches["n"] += 1
        return _edges(df)

    runner2.run(transcripts, counting_process, buckets_per_batch=2)
    assert runner2.done_buckets() == set(range(8))
    # resume only ran the remaining batches
    assert processed_batches["n"] == (8 - len(done_after_kill)) // 2

    got = sorted(map(tuple, io.read("edges").drop("snapshot_id").collect()))
    assert got == expected
    assert io.read("edges").count() > partial_rows
    # provenance: every row is stamped with a manifest-known snapshot id
    stamped = {r.snapshot_id for r in io.read("edges").select("snapshot_id").distinct().collect()}
    assert stamped <= {s["snapshot_id"] for s in io.snapshots("edges")}


def test_orphan_snapshot_pruned_on_resume(spark, tmp_path):
    """Crash window: snapshot appended but watermark never written.
    Resume must discard the orphan, not double its rows."""
    transcripts = synth_transcripts(spark, n_convs=16, turns_per_conv=4).cache()
    expected = sorted(map(tuple, _edges(transcripts).collect()))

    io = TableIO(spark, str(tmp_path / "wh3"))
    runner = ResumableRunner(spark, io, "edges", n_buckets=4)

    # simulate the crash: one batch's output lands as a snapshot with no
    # watermark acknowledgment
    first_batch = transcripts.withColumn("_b", runner.bucket_col()).filter(
        "_b in (0, 1)"
    ).drop("_b")
    io.write(_edges(first_batch), "edges", mode="append")
    assert runner.done_buckets() == set()

    runner.run(transcripts, _edges, buckets_per_batch=2)
    got = sorted(map(tuple, io.read("edges").drop("snapshot_id").collect()))
    assert got == expected  # orphan pruned; no duplicated batch


def test_batch_ack_is_atomic(spark, tmp_path):
    """One watermark SNAPSHOT per batch, covering all its buckets with a
    shared snapshot_id — there is no per-bucket append sequence a kill
    could land between, so 'snapshot acked by some buckets of its batch
    but not others' is unrepresentable."""
    transcripts = synth_transcripts(spark, n_convs=24, turns_per_conv=4).cache()
    io = TableIO(spark, str(tmp_path / "wh4"))
    runner = ResumableRunner(spark, io, "edges", n_buckets=8)
    runner.run(transcripts, _edges, buckets_per_batch=2)

    wm_snaps = io.snapshots(runner.wm_table)
    assert len(wm_snaps) == 4  # 8 buckets / 2 per batch
    wm = runner.watermarks().toPandas()
    per_snap = wm.groupby("snapshot_id")["bucket"].nunique()
    assert (per_snap == 2).all(), per_snap
    assert set(wm.bucket) == set(range(8))


def test_watermarks_namespaced_per_table(spark, tmp_path):
    """Two output tables sharing one warehouse must not see each other's
    progress: completing table A leaves table B fully pending."""
    transcripts = synth_transcripts(spark, n_convs=16, turns_per_conv=4).cache()
    io = TableIO(spark, str(tmp_path / "wh5"))
    a = ResumableRunner(spark, io, "edges_a", n_buckets=4)
    a.run(transcripts, _edges, buckets_per_batch=4)
    assert a.done_buckets() == set(range(4))

    b = ResumableRunner(spark, io, "edges_b", n_buckets=4)
    assert b.done_buckets() == set()
    assert b.pending(transcripts).count() == transcripts.count()
    written = b.run(transcripts, _edges, buckets_per_batch=4)
    assert written > 0
    # identical data; snapshot_id provenance stamps naturally differ
    assert sorted(map(tuple, io.read("edges_a").drop("snapshot_id").collect())) == sorted(
        map(tuple, io.read("edges_b").drop("snapshot_id").collect())
    )


def test_pending_left_anti(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=20, turns_per_conv=4)
    io = TableIO(spark, str(tmp_path / "wh2"))
    runner = ResumableRunner(spark, io, "edges", n_buckets=4)
    runner.run(transcripts, _edges, buckets_per_batch=4)
    # everything done -> pending is empty
    assert runner.pending(transcripts).count() == 0
    # idempotent re-run writes nothing new
    assert runner.run(transcripts, _edges) == 0


def test_runner_metrics_surface(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=16, turns_per_conv=4).cache()
    io = TableIO(spark, str(tmp_path / "wh6"))
    runner = ResumableRunner(spark, io, "edges", n_buckets=4)
    runner.run(transcripts, _edges, buckets_per_batch=2)

    m = runner.metrics()
    assert m["table"] == "edges"
    assert m["buckets_done"] == 4 and m["buckets_pending"] == 0
    assert len(m["snapshots"]) == 2  # one ack per batch
    assert all(len(s["buckets"]) == 2 for s in m["snapshots"])
    assert m["rows_acked"] > 0
    # completed_at ordering is the lineage timeline
    times = [s["completed_at"] for s in m["snapshots"]]
    assert times == sorted(times)


def test_reset_after_external_overwrite(spark, tmp_path):
    """A non-resume overwrite of the output table invalidates the
    watermark lineage; without reset() the next resume run prunes the
    fresh snapshot as an orphan (destroying it) and skips every bucket."""
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO
    from information_extraction_for_chinese_nlp_spark.sources.checkpoint import (
        ResumableRunner,
    )

    io = TableIO(spark, str(tmp_path / "wh"))
    data = spark.range(40).select(
        F.concat(F.lit("c"), "id").alias("conv_id"), F.col("id").alias("v")
    )
    runner = ResumableRunner(spark, io, "out", n_buckets=4)
    runner.run(data, lambda df: df)
    assert io.read("out").count() == 40

    # external rebuild outside the runner + reset
    io.write(data.filter("v < 10"), "out", mode="overwrite",
             stamp_snapshot_col="snapshot_id")
    runner.reset()
    assert runner.done_buckets() == set()
    # a fresh resume run prunes the un-acked external snapshot and
    # RE-DERIVES the whole table — a consistent 40-row end state, not
    # the pre-reset failure mode (fresh data destroyed, zero buckets
    # re-run, read crashing on an empty manifest)
    n = ResumableRunner(spark, io, "out", n_buckets=4).run(data, lambda df: df)
    assert n == 40
    out = io.read("out")
    assert out.count() == 40
    assert out.select("conv_id").distinct().count() == 40


class StopBeforeAck(RuntimeError):
    pass


def _stopped_warehouse(spark, path, data, stop_at_ack=2):
    """An 8-bucket run stopped inside the crash window of its
    ``stop_at_ack``-th batch: that batch's output snapshot is appended,
    its ack never written (how kgbench's kg_resume stops its run)."""

    class StoppingTableIO(TableIO):
        acks = 0

        def write(self, df, table, mode="overwrite", **kw):
            if table.endswith("__wm") and mode == "append":
                self.acks += 1
                if self.acks == stop_at_ack:
                    raise StopBeforeAck()
            return super().write(df, table, mode=mode, **kw)

    runner = ResumableRunner(spark, StoppingTableIO(spark, path), "out", n_buckets=8)
    with pytest.raises(StopBeforeAck):
        runner.run(data, lambda df: df, buckets_per_batch=4)
    return TableIO(spark, path)


def _keyed_rows(spark, n=80):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("c"), "id").alias("conv_id"), F.col("id").alias("v")
    )


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_watermark_ack_is_a_local_relation(spark, tmp_path, monkeypatch):
    """The ack frame every batch appends plans as a LocalRelation: a
    pickled LogicalRDD would start Python workers in the ack's write
    job. The acked rows round-trip exactly."""
    acks = []
    write = TableIO.write

    def spy(self, df, table, mode="overwrite", **kw):
        if table.endswith("__wm"):
            acks.append(df)
        return write(self, df, table, mode=mode, **kw)

    monkeypatch.setattr(TableIO, "write", spy)
    io = TableIO(spark, str(tmp_path / "wh"))
    runner = ResumableRunner(spark, io, "out", n_buckets=4)
    runner.run(_keyed_rows(spark), lambda df: df, buckets_per_batch=2)
    wm = runner.watermarks().collect()
    assert sorted(r.bucket for r in wm) == list(range(4))
    assert sum(r.snapshot_rows for r in {r.snapshot_id: r for r in wm}.values()) == 80
    # reset()'s empty overwrite and a never-written table's empty
    # watermarks are local frames as well
    runner.reset()
    frames = acks + [ResumableRunner(spark, io, "never_written").watermarks()]
    assert len(frames) == 4  # 2 acks, 1 reset, 1 empty read
    for df in frames:
        plan = _optimized_plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


# Spark jobs of ResumableRunner.run, measured with get_spark's defaults
# (AQE on) on local[4]. One-batch resume: the watermark scan (its
# footer-reading schema job + the collect), the output snapshot write,
# the snapshot row count (schema job + the count's two AQE stages) and
# the ack write. A watermark read per question (prune, done buckets)
# made these 11 and 6.
_RESUME_ONE_BATCH_JOBS = 7
_RUN_ALL_DONE_JOBS = 2


def test_resume_one_batch_job_count(spark, tmp_path, count_jobs):
    """Resuming a stopped 8-bucket run (one batch of 4 buckets left, its
    orphan snapshot pruned) runs a pinned number of Spark jobs."""
    data = _keyed_rows(spark)
    io = _stopped_warehouse(spark, str(tmp_path / "wh"), data)
    runner = ResumableRunner(spark, io, "out", n_buckets=8)
    written, n_jobs = count_jobs(
        lambda: runner.run(data, lambda df: df, buckets_per_batch=4))
    assert runner.done_buckets() == set(range(8))
    assert io.read("out").count() == 80 and 0 < written < 80
    assert n_jobs <= _RESUME_ONE_BATCH_JOBS, n_jobs


def test_run_on_done_warehouse_scans_watermarks_once(spark, tmp_path, count_jobs):
    """On a warehouse where every bucket is done, run is one watermark
    scan: its schema (footer) job plus the collect that yields both the
    acked snapshot ids and the done buckets."""
    data = _keyed_rows(spark)
    io = TableIO(spark, str(tmp_path / "wh"))
    ResumableRunner(spark, io, "out", n_buckets=8).run(
        data, lambda df: df, buckets_per_batch=4)
    snaps = io.snapshots("out")
    written, n_jobs = count_jobs(
        lambda: ResumableRunner(spark, io, "out", n_buckets=8).run(
            data, lambda df: df, buckets_per_batch=4))
    assert written == 0 and io.snapshots("out") == snaps
    assert n_jobs <= _RUN_ALL_DONE_JOBS, n_jobs

# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
pytestmark = pytest.mark.slow
