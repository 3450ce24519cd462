"""Streaming parity: micro-batched extraction equals the batch run;
windowed rollup aggregates with watermark."""

import os

from pyspark.sql import functions as F

from information_extraction_for_chinese_nlp_spark.plans.pipeline import extract_triples
from information_extraction_for_chinese_nlp_spark.sources.transcripts import synth_transcripts
from information_extraction_for_chinese_nlp_spark.streaming.stream import (
    read_transcript_stream,
    stream_edges,
    windowed_edge_counts,
)


def _write_stream_input(spark, tmp_path, n_convs=24):
    src = str(tmp_path / "in")
    t = synth_transcripts(spark, n_convs=n_convs, turns_per_conv=6)
    # several files so the stream sees multiple batches; conversations
    # don't straddle files (partition by conv bucket)
    t.repartition(4, "conv_id").write.parquet(src)
    return src, t


def test_stream_edges_matches_batch(spark, tmp_path):
    src, t = _write_stream_input(spark, tmp_path)
    out = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    q = stream_edges(stream, out, ckpt, max_seq_len=128)
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.read.parquet(out).drop("batch_id").collect())
    )
    want = sorted(map(tuple, extract_triples(t, max_seq_len=128).collect()))
    assert got == want


def test_stream_is_exactly_once_on_restart(spark, tmp_path):
    src, t = _write_stream_input(spark, tmp_path)
    out = str(tmp_path / "edges2")
    ckpt = str(tmp_path / "ckpt2")

    q = stream_edges(read_transcript_stream(spark, src), out, ckpt, max_seq_len=128)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # restart with same checkpoint: no new input -> no duplicates
    q2 = stream_edges(read_transcript_stream(spark, src), out, ckpt, max_seq_len=128)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_windowed_edge_counts(spark, tmp_path):
    src, t = _write_stream_input(spark, tmp_path)
    stream = read_transcript_stream(spark, src)
    agg = windowed_edge_counts(stream, watermark="1 minute", window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; the final window stays open,
    # so compare against batch counts restricted to emitted windows.
    got = spark.sql("select * from wincounts").toPandas()
    assert set(got.columns) == {
        "window_start", "window_end", "role", "n_turns", "n_money_turns"
    }
    if len(got):
        batch = (
            t.groupBy().count().collect()
        )
        assert got["n_turns"].sum() <= batch[0]["count"]
        assert (got["n_money_turns"] <= got["n_turns"]).all()


def test_stream_dedup_exact_incremental(spark, tmp_path):
    """Cross-batch exact dedup: a text emitted by an earlier batch never
    re-emits; within a batch the min doc_id wins (batch-operator
    parity); restart with the same checkpoint adds nothing."""
    from pyspark.sql.types import StructField, StructType, StringType, LongType

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_dedup_exact,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "docs_in")
    # wave 1: 2 distinct texts (one duplicated in-batch), wave 2: one
    # repeat of wave 1 + one new text
    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(4, "alpha"), (5, "gamma"), (6, None), (7, None)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "uniq")
    ckpt = str(tmp_path / "dckpt")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_dedup_exact(stream, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    # alpha kept once with its smallest id ANYWHERE it first appeared;
    # file order is nondeterministic, so accept either wave's winner.
    # NULL-text docs form ONE canonical group (batch-operator parity),
    # they must not silently vanish.
    texts = sorted((t if t is not None else "<null>") for _, t in got)
    assert texts == ["<null>", "alpha", "beta", "gamma"]
    alpha_id = next(i for i, t in got if t == "alpha")
    assert alpha_id in (1, 4)
    assert next(i for i, t in got if t is None) == 6

    # restart on the same checkpoint: no new input, no new rows
    q2 = stream_dedup_exact(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        out, ckpt,
    )
    q2.awaitTermination(120)
    got2 = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    assert got2 == got


def test_stream_dedup_state_compaction_bounds_dirs(spark, tmp_path):
    """>compact_every batches: _seen directory count stays bounded (olds
    are folded into marked snapshots) and the dedup output still equals
    the batch operator on the concatenated input."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_dedup_exact,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "docs_in")
    n_batches = 7
    rows = []
    for b in range(n_batches):
        batch = [(b * 10 + i, f"text-{(b * 3 + i) % 9}") for i in range(3)]
        rows.extend(batch)
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "uniq")
    q = stream_dedup_exact(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        out, str(tmp_path / "ckpt"), compact_every=2,
    )
    q.awaitTermination(180)

    got = {r.text for r in spark.read.parquet(out).collect()}
    assert got == {f"text-{i}" for i in range(9)}
    # one surviving row per distinct text, min-id winner per first batch
    assert spark.read.parquet(out).count() == 9

    seen_dirs = [
        d for d in os.listdir(os.path.join(out, "_seen"))
        if d.startswith("batch_id=")
    ]
    # without compaction there would be n_batches dirs; with
    # compact_every=2 the listing stays <= ~2k+1
    assert len(seen_dirs) < n_batches
    assert len(seen_dirs) <= 5, seen_dirs

    # restart on the same checkpoint: nothing new
    q2 = stream_dedup_exact(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        out, str(tmp_path / "ckpt"), compact_every=2,
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == 9


def test_stream_merge_components_incremental(spark, tmp_path):
    """Micro-batched edge ingest: the final labeling snapshot equals a
    batch connected_components over ALL edges (any file order — min-label
    CC is order-independent), and old snapshots are pruned."""
    import os

    from pyspark.sql.types import StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.operators.components import (
        connected_components,
    )
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_merge_components,
    )

    schema = StructType([
        StructField("src", StringType()),
        StructField("dst", StringType()),
    ])
    waves = [
        [("a", "b"), ("c", "d")],            # two components
        [("b", "c"), ("e", "f")],            # merge + new component
        [("f", "g"), ("p", "q"), ("a", "a")],  # extend + new + self-loop
    ]
    src_dir = str(tmp_path / "edges_in")
    for wave in waves:
        spark.createDataFrame(wave, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    out = str(tmp_path / "labels")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_merge_components(
        stream, out, str(tmp_path / "cckpt"), keep_snapshots=1
    )
    q.awaitTermination(120)

    snaps = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    assert len(snaps) <= 2, snaps  # keep_snapshots=1 -> latest + 1
    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id={snaps[-1]}")
            .select("node", "component").collect())
    )
    all_edges = spark.createDataFrame(
        [e for w in waves for e in w], schema
    )
    want = sorted(map(tuple, connected_components(all_edges).collect()))
    assert got == want


def test_stream_merge_components_long_ids_and_guard(spark, tmp_path):
    """Snapshot read schema must follow the stream's id type (long ids
    crashed a hardcoded string schema on batch 2); keep_snapshots=0 is
    rejected (replay needs the immediate predecessor)."""
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.operators.components import (
        connected_components,
    )
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_merge_components,
    )

    schema = StructType([
        StructField("src", LongType()),
        StructField("dst", LongType()),
    ])
    waves = [[(1, 2)], [(2, 3), (10, 11)]]
    src_dir = str(tmp_path / "edges_long")
    for wave in waves:
        spark.createDataFrame(wave, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = str(tmp_path / "labels_long")
    q = stream_merge_components(stream, out, str(tmp_path / "lckpt"))
    q.awaitTermination(120)

    import os

    last = max(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id={last}").collect())
    )
    want = sorted(map(tuple, connected_components(
        spark.createDataFrame([e for w in waves for e in w], schema)
    ).collect()))
    assert got == want

    with pytest.raises(ValueError, match="keep_snapshots"):
        stream_merge_components(stream, out, str(tmp_path / "x"),
                                keep_snapshots=0)

# e2e / streaming / property-heavy: excluded from the fast inner-loop tier
import pytest

pytestmark = pytest.mark.slow


def test_stream_line_dedup_single_batch_matches_batch_operator(spark, tmp_path):
    """A corpus arriving as ONE micro-batch must round-trip exactly as
    the batch operator (same membership legs by construction)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        line_dedup,
    )
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_line_dedup,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])
    rows = [(i, f"BANNER\nbody {i}\nFOOT", "en") for i in range(3)] + [
        (10, "all unique content here", "zh")
    ]
    src = str(tmp_path / "ld_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    out = str(tmp_path / "ld_out")
    q = stream_line_dedup(
        spark.readStream.schema(schema).parquet(src),
        out, str(tmp_path / "ld_ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.lang, r.text, r.n_dropped)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_id, r.lang, r.text, r.n_dropped)
        for r in line_dedup(
            spark.createDataFrame(rows, schema), min_df=3, keep=("lang",)
        ).select("doc_id", "lang", "text", "n_dropped").collect()
    }
    assert got == want
    assert all("BANNER" not in t and "FOOT" not in t for _, _, t, _ in got)


def test_stream_line_dedup_prefix_semantics_and_restart(spark, tmp_path):
    """A line crosses min_df only once the later batch arrives: the
    earlier batch's emitted docs keep it (no retraction), the later
    batch strips it — and a restart on the same checkpoint with no new
    input changes nothing."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_line_dedup,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "ld2_in")
    out = str(tmp_path / "ld2_out")
    ckpt = str(tmp_path / "ld2_ckpt")

    def run():
        q = stream_line_dedup(
            spark.readStream.schema(schema).parquet(src), out, ckpt, min_df=3
        )
        q.awaitTermination(120)

    # wave 1: PROMO appears in 2 distinct docs — below min_df, kept
    spark.createDataFrame(
        [(1, "PROMO\none body"), (2, "PROMO\ntwo body")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    wave1 = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert wave1[1].text == "PROMO\none body" and wave1[1].n_dropped == 0

    # wave 2: a third distinct doc pushes PROMO to df=3 — stripped from
    # the NEW doc only; wave 1's emitted rows are untouched
    spark.createDataFrame(
        [(3, "PROMO\nthree body")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    all_rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert all_rows[1].text == "PROMO\none body"      # prefix semantics
    assert all_rows[3].text == "three body"
    assert all_rows[3].n_dropped == 1

    # restart with nothing new: byte-identical output set
    run()
    again = {r.doc_id: (r.text, r.n_dropped)
             for r in spark.read.parquet(out).collect()}
    assert again == {i: (r.text, r.n_dropped) for i, r in all_rows.items()}


def test_stream_line_dedup_compaction_bounds_state(spark, tmp_path):
    """>compact_every batches through the hot-line state: partial-df
    directories fold into MARKED snapshots (bounded listing), the
    post-compaction batches still see the full cumulative dfs (docs
    after the min_df crossing are stripped; the first batch's docs,
    emitted before the crossing, keep the line — prefix semantics),
    and a restart adds nothing."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_line_dedup,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "ld3_in")
    n_batches = 7
    for b in range(n_batches):
        batch = [(b * 10 + i, f"HOT LINE\nbody {b}-{i}") for i in range(2)]
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "ld3_out")
    ckpt = str(tmp_path / "ld3_ckpt")

    def run():
        q = stream_line_dedup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            out, ckpt, min_df=3, compact_every=2,
        )
        q.awaitTermination(180)

    run()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == n_batches * 2
    with_hot = [r for r in rows if "HOT LINE" in r.text]
    # whichever file went first: its 2 docs saw df=2 < 3 and keep the
    # line; every later batch (cumulative df >= 4) strips it
    assert len(with_hot) == 2
    assert {r.n_dropped for r in with_hot} == {0}
    assert all(r.n_dropped == 1 for r in rows if "HOT LINE" not in r.text)

    df_dirs = [d for d in os.listdir(os.path.join(out, "_df"))
               if d.startswith("batch_id=")]
    assert len(df_dirs) < n_batches, df_dirs   # olds folded into snapshots
    snap_dirs = [d for d in os.listdir(os.path.join(out, "_df_snap"))
                 if d.startswith("batch_id=")]
    assert snap_dirs, "no snapshot written"
    # every snapshot a future batch could pick as base is MARKED
    assert any(
        os.path.exists(os.path.join(out, "_df_snap", d, "_SNAPSHOT"))
        for d in snap_dirs
    )

    run()  # restart, no new input
    rows2 = spark.read.parquet(out).collect()
    assert {(r.doc_id, r.text, r.n_dropped) for r in rows2} == {
        (r.doc_id, r.text, r.n_dropped) for r in rows
    }


def test_stream_line_dedup_prevalidates_and_dedups_deterministically(
        spark, tmp_path):
    """(ADVICE r6) Bad inputs fail BEFORE the stream starts — not at the
    first micro-batch after checkpoint state exists; and in-batch
    duplicate ids collapse by a DETERMINISTIC ordered tie (max over the
    non-id struct), so the df-state write and the document rewrite can
    never observe different duplicates."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_line_dedup,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "ldv_in")
    spark.createDataFrame(
        [(1, "PROMO\nAAA"), (1, "PROMO\nZZZ")], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    # passenger column colliding with a fixed output name: before start
    bad = StructType(schema.fields + [StructField("n_dropped", LongType())])
    with pytest.raises(ValueError, match="n_dropped"):
        stream_line_dedup(
            spark.readStream.schema(bad).parquet(src),
            str(tmp_path / "o2"), str(tmp_path / "c2"))
    # missing id column: before start
    with pytest.raises(ValueError, match="'uid'"):
        stream_line_dedup(stream, str(tmp_path / "o3"),
                          str(tmp_path / "c3"), id_col="uid")
    assert not (tmp_path / "c2").exists()
    assert not (tmp_path / "c3").exists()

    # deterministic duplicate collapse: the ordered tie picks the MAX
    # struct — here text 'PROMO\nZZZ' — on every run/replay
    out = str(tmp_path / "ldv_out")
    q = stream_line_dedup(stream, out, str(tmp_path / "ldv_ckpt"),
                          min_df=3)
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0].text == "PROMO\nZZZ" and rows[0].n_dropped == 0


def test_stream_line_dedup_map_passenger_survives(spark, tmp_path):
    """A MapType passenger column must not kill the first micro-batch:
    max(struct) is illegal over unorderable types, so the in-batch
    dedup falls back to a JSON-serialized ordering key — still
    deterministic (a to_json tie means byte-identical rows), and the
    map rides through the rewrite intact."""
    from pyspark.sql.types import (
        IntegerType, LongType, MapType, StringType, StructField, StructType,
    )

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_line_dedup,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("props", MapType(StringType(), IntegerType())),
    ])
    rows = [(i, f"BANNER\nbody {i}", {"k": i}) for i in range(3)] + [
        # duplicate id: the JSON ordering key picks 'zz' ("yy" < "zz")
        (7, "yy", {"k": 1}),
        (7, "zz", {"k": 2}),
    ]
    src = str(tmp_path / "ldm_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    out = str(tmp_path / "ldm_out")
    q = stream_line_dedup(
        spark.readStream.schema(schema).parquet(src),
        out, str(tmp_path / "ldm_ckpt"), min_df=3,
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 4
    assert got[7].text == "zz" and dict(got[7].props) == {"k": 2}
    assert all("BANNER" not in got[i].text for i in range(3))
    assert dict(got[1].props) == {"k": 1}


@pytest.mark.slow
def test_stream_dedup_soak_50_batches_bounded_state_flat_wall(spark, tmp_path):
    """Long-horizon soak (VERDICT r6 task 5): 60 micro-batches through
    stream_dedup_exact. Pins the two properties a long-lived stream
    needs that few-cycle tests can't: (a) the _seen state listing stays
    bounded (dirs AND files) after many compaction cycles, (b) per-batch
    wall stays flat — the failure mode is the pre-compaction O(batches)
    listing/read growth, which at batch 50+ would dominate. Output
    still equals the batch operator on the concatenated input."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from information_extraction_for_chinese_nlp_spark.operators.dedup import dedup_exact
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_dedup_exact,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "docs_in")
    n_batches = 60
    all_rows = []
    for b in range(n_batches):
        # ~60% repeats of earlier texts, ~40% new — state grows steadily
        batch = [
            (b * 100 + i, f"text-{(b * 2 + i) % (20 + b)}") for i in range(5)
        ]
        all_rows.extend(batch)
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "uniq")
    q = stream_dedup_exact(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        out, str(tmp_path / "ckpt"), compact_every=5,
    )
    q.awaitTermination(600)

    # correctness over the long horizon: one survivor per distinct
    # text, and the batch operator (hash summary) agrees on the group
    # count over the concatenated input
    expected_texts = {t for _, t in all_rows}
    stream_rows = spark.read.parquet(out).collect()
    assert {r.text for r in stream_rows} == expected_texts
    assert len(stream_rows) == len(expected_texts)
    assert dedup_exact(
        spark.createDataFrame(all_rows, schema), text_col="text"
    ).count() == len(expected_texts)

    # (a) bounded state: dir count <= ~2*compact_every+1 regardless of
    # the 60-batch horizon; total file count bounded too (listing cost
    # is what a long-lived stream actually pays per batch)
    seen_root = os.path.join(out, "_seen")
    seen_dirs = [d for d in os.listdir(seen_root) if d.startswith("batch_id=")]
    assert len(seen_dirs) <= 2 * 5 + 1, sorted(seen_dirs)
    n_files = sum(
        len(os.listdir(os.path.join(seen_root, d))) for d in seen_dirs
    )
    assert n_files <= 16 * len(seen_dirs), n_files

    # (b) flat per-batch wall: the tail must not drift up vs the early
    # steady state. Medians + a generous 3x band absorb co-tenant noise;
    # the guarded-against failure (linear listing growth) shows >5x by
    # batch 50 at this size.
    prog = [
        (p["batchId"], p["durationMs"]["triggerExecution"])
        for p in (q.recentProgress or [])
        if p.get("durationMs") and p.get("numInputRows", 0) > 0
    ]
    assert len(prog) >= 40, len(prog)
    prog.sort()
    times = [t for _, t in prog]
    early = sorted(times[5:20])[len(times[5:20]) // 2]
    tail = sorted(times[-10:])[5]
    assert tail <= 3.0 * early, (early, tail, times)


def _mention_rows(n_docs=12, facts=4):
    # repeated facts across docs: fact j gets mentions from docs j, j+facts, ...
    rows = []
    for d in range(n_docs):
        j = d % facts
        rows.append((f"s{j}", "p", f"o{j}", 0.3 + 0.1 * (d % 5), d))
        if d % 3 == 0:  # second mention of the same fact in the same doc
            rows.append((f"s{j}", "p", f"o{j}", 0.5, d))
        if d % 4 == 0:  # quarantined mention: NULL prob, must be ignored
            rows.append((f"s{j}", "p", f"o{j}", None, d))
    return rows


_MENTION_SCHEMA = (
    "subj string, pred string, obj string, prob double, doc_id long"
)


def _latest_fused(spark, out):
    fused = (
        spark.read.option("basePath", f"{out}/fused")
        .parquet(f"{out}/fused")
    )
    last = fused.agg({"batch_id": "max"}).collect()[0][0]
    return fused.filter(fused.batch_id == last).drop("batch_id")


def _assert_fused_parity(spark, out, rows):
    from information_extraction_for_chinese_nlp_spark.operators.fusion import (
        fuse_triples,
    )

    got = {
        (r.subj, r.pred, r.obj): r for r in _latest_fused(spark, out).collect()
    }
    batch = fuse_triples(spark.createDataFrame(rows, _MENTION_SCHEMA))
    want = {(r.subj, r.pred, r.obj): r for r in batch.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        # log-space sums accumulate in a different order than the batch
        # single pass — identical math, last-ulp tolerance
        assert abs(g.fused_prob - w.fused_prob) < 1e-9, k
        assert g.n_mentions == w.n_mentions, k
        assert g.n_docs == w.n_docs, k
        assert g.max_prob == w.max_prob and g.first_doc == w.first_doc, k


def test_stream_fuse_triples_matches_batch_across_batches(spark, tmp_path):
    """Multi-batch incremental fusion == batch fuse_triples over the
    concatenated mentions (NULL-prob quarantine rows ignored on both
    faces); restart with no new input changes nothing."""
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_fuse_triples,
    )

    rows = _mention_rows()
    src = str(tmp_path / "mentions")
    spark.createDataFrame(rows, _MENTION_SCHEMA).repartition(4).write.parquet(
        src
    )
    out, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(_MENTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_fuse_triples(stream, out, ckpt)
    q.awaitTermination(120)
    _assert_fused_parity(spark, out, rows)

    # restart, same checkpoint, no new files: fused table unchanged
    q2 = stream_fuse_triples(
        spark.readStream.schema(_MENTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
    )
    q2.awaitTermination(120)
    _assert_fused_parity(spark, out, rows)


def test_stream_fuse_triples_compaction_bounds_state(spark, tmp_path):
    """compact_every=2 over 8 single-file batches: parity still holds,
    a _SNAPSHOT marker exists, live _state dirs stay bounded (no
    double-counting through the snapshot/incremental split), and new
    mentions after a restart fold into the compacted state."""
    import os

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_fuse_triples,
    )

    rows = _mention_rows(n_docs=16)
    src = str(tmp_path / "mentions")
    spark.createDataFrame(rows, _MENTION_SCHEMA).repartition(8).write.parquet(
        src
    )
    out, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")

    q = stream_fuse_triples(
        spark.readStream.schema(_MENTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
        compact_every=2,
    )
    q.awaitTermination(180)
    _assert_fused_parity(spark, out, rows)

    state_dirs = [
        d for d in os.listdir(f"{out}/_state") if d.startswith("batch_id=")
    ]
    assert len(state_dirs) <= 6  # ~2*compact_every + 1, 8 batches ran
    assert any(
        os.path.exists(f"{out}/_state/{d}/_SNAPSHOT") for d in state_dirs
    )

    # late-arriving mentions: strengthen an existing fact + a new fact
    extra = [("s0", "p", "o0", 0.9, 99), ("sX", "q", "oX", 0.7, 100)]
    spark.createDataFrame(extra, _MENTION_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_fuse_triples(
        spark.readStream.schema(_MENTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
        compact_every=2,
    )
    q2.awaitTermination(120)
    _assert_fused_parity(spark, out, rows + extra)


def test_stream_fuse_triples_validates_args(spark, tmp_path):
    import pytest as _pytest

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_fuse_triples,
    )

    src = tmp_path / "empty"
    src.mkdir()
    stream = spark.readStream.schema(_MENTION_SCHEMA).parquet(str(src))
    with _pytest.raises(ValueError, match="compact_every"):
        stream_fuse_triples(stream, "o", "c", compact_every=0)
    with _pytest.raises(ValueError, match="keep_snapshots"):
        stream_fuse_triples(stream, "o", "c", keep_snapshots=0)


def test_stream_fuse_triples_temporal_scoping_matches_batch(spark, tmp_path):
    """ts_col mirrors the batch face: first_seen/last_seen over
    SUPPORTED mentions accumulate across micro-batches as combinable
    min/max and equal fuse_triples(ts_col=...) over the concatenation."""
    from datetime import datetime

    from information_extraction_for_chinese_nlp_spark.operators.fusion import (
        fuse_triples,
    )
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_fuse_triples,
    )

    schema = (
        "subj string, pred string, obj string, prob double, "
        "doc_id long, ts timestamp"
    )
    rows = [
        ("s", "p", "a", 0.5, 1, datetime(2024, 3, 1)),
        ("s", "p", "a", 0.4, 2, datetime(2024, 1, 5)),
        ("s", "p", "a", None, 3, datetime(2020, 1, 1)),  # ignored
        ("s", "p", "b", 0.9, 4, datetime(2024, 6, 1)),
    ]
    src = str(tmp_path / "m")
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(src)
    out, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")

    q = stream_fuse_triples(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
        ts_col="ts",
    )
    q.awaitTermination(120)

    got = {
        (r.subj, r.pred, r.obj): r
        for r in _latest_fused(spark, out).collect()
    }
    want = {
        (r.subj, r.pred, r.obj): r
        for r in fuse_triples(
            spark.createDataFrame(rows, schema), ts_col="ts"
        ).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.first_seen == w.first_seen and g.last_seen == w.last_seen, k
        assert abs(g.fused_prob - w.fused_prob) < 1e-9
    a = got[("s", "p", "a")]
    assert a.first_seen == datetime(2024, 1, 5)  # NULL-prob ts excluded
    assert a.last_seen == datetime(2024, 3, 1)


@pytest.mark.slow
def test_stream_fuse_soak_50_batches_bounded_state_flat_wall(spark, tmp_path):
    """Long-horizon fusion soak (mirrors the r6 dedup soak): 50
    micro-batches of mentions re-asserting a rolling fact population.
    Pins (a) bounded _state listing after many sum-safe compaction
    cycles, (b) flat per-batch wall (the failure mode is O(batches)
    incremental-dir growth in the merge read), (c) exact parity with
    the batch operator over all 50 batches' mentions at the end."""
    src = str(tmp_path / "mentions")
    n_batches = 50
    all_rows = []
    for b in range(n_batches):
        # each batch asserts 6 mentions over a slowly-growing fact pool
        batch = [
            (
                f"s{(b + i) % (8 + b // 5)}",
                "p",
                f"o{i % 3}",
                0.3 + 0.05 * ((b + i) % 9),
                b * 10 + i,
            )
            for i in range(6)
        ]
        all_rows.extend(batch)
        spark.createDataFrame(batch, _MENTION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "kg")
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_fuse_triples,
    )

    q = stream_fuse_triples(
        spark.readStream.schema(_MENTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        str(tmp_path / "ckpt"),
        compact_every=5,
    )
    q.awaitTermination(600)

    # (c) exact parity over the whole horizon
    _assert_fused_parity(spark, out, all_rows)

    # (a) bounded state: sum-safe compaction keeps the listing flat
    state_root = os.path.join(out, "_state")
    dirs = [d for d in os.listdir(state_root) if d.startswith("batch_id=")]
    assert len(dirs) <= 2 * 5 + 1, sorted(dirs)
    # fused/ snapshots pruned to keep_snapshots + the live one
    fused_dirs = [
        d for d in os.listdir(os.path.join(out, "fused"))
        if d.startswith("batch_id=")
    ]
    assert len(fused_dirs) <= 3, sorted(fused_dirs)

    # (b) flat per-batch wall, same band discipline as the dedup soak
    prog = [
        (p["batchId"], p["durationMs"]["triggerExecution"])
        for p in (q.recentProgress or [])
        if p.get("durationMs") and p.get("numInputRows", 0) > 0
    ]
    assert len(prog) >= 35, len(prog)
    prog.sort()
    times = [t for _, t in prog]
    early = sorted(times[5:20])[len(times[5:20]) // 2]
    tail = sorted(times[-10:])[5]
    assert tail <= 3.0 * early, (early, tail, times)


_EDGE_SCHEMA = (
    "subj string, pred string, obj string, prob double, doc_id string, "
    "start int, end int"
)


def _latest_snap(spark, out, table):
    df = spark.read.option("basePath", f"{out}/{table}").parquet(
        f"{out}/{table}"
    )
    last = df.agg({"batch_id": "max"}).collect()[0][0]
    return df.filter(df.batch_id == last).drop("batch_id"), last


def test_stream_build_kg_retroactive_merge_matches_batch(spark, tmp_path):
    """The composed streaming KG: batches 0/1 hold two DISSIMILAR raw
    surfaces under separate entities; batch 2 brings a bridge surface
    similar to both — the entities must merge RETROACTIVELY, re-fusing
    facts attributed to either. Final vertices + fused must equal the
    batch build_kg over the concatenated edges, and a checkpoint
    restart with no new input changes nothing."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    # A='abcdefgh' and B='efghijkl' share 3 of 11 bigrams (J=0.27,
    # below the 0.6 link bar) so batches 0 and 1 keep them as SEPARATE
    # entities; the batch-2 bridge C='abcdefghijkl' hits J=7/11=0.636
    # against EACH, so the streaming labeling must merge all three
    # retroactively and the case-1 fact support re-combines. The money
    # surfaces canonicalize by VALUE across batches with no linker.
    b0 = [
        ("case-1", "醫療費用", "98,532元", 0.5, "d0", 0, 7),
        ("case-1", "醫療費用", "abcdefgh", 0.4, "d1", 0, 8),
    ]
    b1 = [
        ("case-1", "醫療費用", "98532元", 0.5, "d3", 0, 6),  # value merge
        ("case-1", "醫療費用", "efghijkl", 0.4, "d4", 0, 8),
        ("case-1", "醫療費用", None, None, "d5", 0, 0),  # quarantined
    ]
    b2 = [
        # the bridge: merges the two entities created two batches apart
        ("case-1", "醫療費用", "abcdefghijkl", 0.4, "d6", 0, 12),
    ]
    src = str(tmp_path / "edges")
    for batch in (b0, b1, b2):
        spark.createDataFrame(batch, _EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")
    q = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
    )
    q.awaitTermination(180)

    all_edges = spark.createDataFrame(b0 + b1 + b2, _EDGE_SCHEMA)
    want_v, want_f = build_kg(all_edges)

    got_v, _ = _latest_snap(spark, out, "vertices")
    gv = {r.entity_id: r for r in got_v.collect()}
    wv = {r.entity_id: r for r in want_v.collect()}
    assert set(gv) == set(wv)
    for k, w in wv.items():
        g = gv[k]
        assert (g.canonical_text, g.type, g.n_mentions) == (
            w.canonical_text, w.type, w.n_mentions
        ), k

    got_f, _ = _latest_snap(spark, out, "fused")
    gf = {(r.subj, r.pred, r.entity_id): r for r in got_f.collect()}
    wf = {(r.subj, r.pred, r.entity_id): r for r in want_f.collect()}
    assert set(gf) == set(wf)
    for k, w in wf.items():
        g = gf[k]
        assert abs(g.fused_prob - w.fused_prob) < 1e-9, k
        assert g.n_mentions == w.n_mentions and g.n_docs == w.n_docs, k
        assert g.canonical_text == w.canonical_text, k
        assert g.max_prob == w.max_prob and g.first_doc == w.first_doc, k

    # the merge was genuinely retroactive: the previous snapshot kept
    # alpha as its own entity
    prev_v = spark.read.parquet(f"{out}/vertices/batch_id=1")
    assert prev_v.count() == got_v.count() + 1

    # restart, no new input: byte-equal snapshots
    q2 = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        ckpt,
    )
    q2.awaitTermination(120)
    again, last = _latest_snap(spark, out, "fused")
    assert {(r.subj, r.pred, r.entity_id): r.fused_prob
            for r in again.collect()} == {
        k: v.fused_prob for k, v in gf.items()
    }


def test_stream_build_kg_compaction_and_validation(spark, tmp_path):
    """Sum-state compaction across 7 batches keeps parity (no double
    counting through the snapshot/incremental split) and bounds the
    state listing; bad args fail before the stream starts."""
    import pytest as _pytest

    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    rows = []
    src = str(tmp_path / "edges")
    for b in range(7):
        batch = [
            (
                f"case-{i % 3}",
                "醫療費用",
                f"{(b * 7 + i) % 5},000元",
                0.3 + 0.1 * (i % 4),
                f"d{b * 10 + i}",
                0,
                6,
            )
            for i in range(4)
        ]
        rows.extend(batch)
        spark.createDataFrame(batch, _EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "kg")
    q = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        str(tmp_path / "ckpt"),
        compact_every=2,
    )
    q.awaitTermination(300)

    want_v, want_f = build_kg(spark.createDataFrame(rows, _EDGE_SCHEMA))
    got_f, _ = _latest_snap(spark, out, "fused")
    gf = {(r.subj, r.pred, r.entity_id): r for r in got_f.collect()}
    wf = {(r.subj, r.pred, r.entity_id): r for r in want_f.collect()}
    assert set(gf) == set(wf)
    for k, w in wf.items():
        assert abs(gf[k].fused_prob - w.fused_prob) < 1e-9, k
        assert gf[k].n_mentions == w.n_mentions, k

    for state in ("_surfaces", "_fstate"):
        dirs = [
            d for d in os.listdir(os.path.join(out, state))
            if d.startswith("batch_id=")
        ]
        assert len(dirs) <= 2 * 2 + 1, (state, sorted(dirs))
    for table in ("vertices", "fused", "_labels"):
        dirs = [
            d for d in os.listdir(os.path.join(out, table))
            if d.startswith("batch_id=")
        ]
        assert len(dirs) <= 3, (table, sorted(dirs))

    stream = spark.readStream.schema(_EDGE_SCHEMA).parquet(src)
    with _pytest.raises(ValueError, match="compact_every"):
        stream_build_kg(stream, "o", "c", compact_every=0)
    with _pytest.raises(ValueError, match="keep_snapshots"):
        stream_build_kg(stream, "o", "c", keep_snapshots=0)


def test_stream_fuse_and_kg_validate_schema_before_start(spark, tmp_path):
    """Pre-start schema validation (the ADVICE-r6 discipline, applied to
    the new streaming operators): a missing/mistyped column name fails
    BEFORE the writer is built — not inside the first micro-batch,
    which would leave a wedged checkpoint."""
    import pytest as _pytest

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
        stream_fuse_triples,
    )

    src = tmp_path / "empty"
    src.mkdir()
    stream = spark.readStream.schema(_MENTION_SCHEMA).parquet(str(src))
    with _pytest.raises(ValueError, match="probability"):
        stream_fuse_triples(stream, "o", "c", prob_col="probability")
    with _pytest.raises(ValueError, match="ts"):
        stream_fuse_triples(stream, "o", "c", ts_col="ts")
    # edge stream lacking doc_id
    bad = spark.readStream.schema("subj string, pred string, obj string, prob double").parquet(str(src))
    with _pytest.raises(ValueError, match="doc_id"):
        stream_build_kg(bad, "o", "c")


def test_stream_build_kg_bucket_cap_drops_degenerate_links(spark, tmp_path):
    """link_max_bucket=1 drops every multi-member bucket, so the two
    similar surfaces stay SEPARATE entities — the cap bounds the
    candidate join instead of letting a degenerate bucket go quadratic."""
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    rows = [
        ("c1", "醫療費用", "unknown-alpha", 0.5, "d1", 0, 13),
        ("c1", "醫療費用", "unknown-alphx", 0.5, "d2", 0, 13),
    ]
    src = str(tmp_path / "edges")
    spark.createDataFrame(rows, _EDGE_SCHEMA).coalesce(1).write.parquet(src)
    out = str(tmp_path / "kg")
    q = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA).parquet(src),
        out,
        str(tmp_path / "ckpt"),
        link_max_bucket=1,
    )
    q.awaitTermination(120)
    got_v, _ = _latest_snap(spark, out, "vertices")
    assert got_v.count() == 2  # no link: the cap suppressed the bucket


def test_stream_build_kg_real_extraction_edges_parity(spark, tmp_path):
    """Corpus-shaped parity: edges from the REAL extraction pipeline
    over synthetic transcripts (money surfaces, raw long-tail, multi-
    mention facts), split across 4 micro-batches in conversation order
    — final snapshots equal batch build_kg over all edges."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    t = synth_transcripts(spark, n_convs=48, turns_per_conv=8)
    edges = extract_triples(t, max_seq_len=128).localCheckpoint(eager=True)

    src = str(tmp_path / "edges")
    # 4 files = 4 micro-batches; docs don't straddle batches, matching
    # the stream_edges deployment shape
    edges.withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(4))
    ).repartition(4, "_b").drop("_b").write.parquet(src)

    out = str(tmp_path / "kg")
    q = stream_build_kg(
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        str(tmp_path / "ckpt"),
        compact_every=2,
    )
    q.awaitTermination(300)

    want_v, want_f = build_kg(spark.read.parquet(src))
    got_v, _ = _latest_snap(spark, out, "vertices")
    gv = {r.entity_id: (r.canonical_text, r.type, r.n_mentions)
          for r in got_v.collect()}
    wv = {r.entity_id: (r.canonical_text, r.type, r.n_mentions)
          for r in want_v.collect()}
    assert gv == wv
    assert len(gv) > 5  # the fixture exercised a real entity population

    got_f, _ = _latest_snap(spark, out, "fused")
    gf = {(r.subj, r.pred, r.entity_id): r for r in got_f.collect()}
    wf = {(r.subj, r.pred, r.entity_id): r for r in want_f.collect()}
    assert set(gf) == set(wf) and len(gf) > 5
    for k, w in wf.items():
        g = gf[k]
        assert abs(g.fused_prob - w.fused_prob) < 1e-9, k
        assert (g.n_mentions, g.n_docs, g.canonical_text) == (
            w.n_mentions, w.n_docs, w.canonical_text
        ), k


def test_stream_build_kg_emit_delta_replays_to_snapshot(spark, tmp_path):
    """emit_delta: per-batch fused_delta dirs classify added/removed/
    changed on the fact key; applying the deltas in order (upsert
    added+changed, delete removed) reconstructs the final snapshot,
    and the retroactive merge surfaces as removed fragments + the
    merged fact."""
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    b0 = [
        ("case-1", "醫療費用", "abcdefgh", 0.4, "d1", 0, 8),
        ("case-1", "醫療費用", "98,532元", 0.5, "d0", 0, 7),
    ]
    b1 = [("case-1", "醫療費用", "efghijkl", 0.4, "d4", 0, 8)]
    b2 = [("case-1", "醫療費用", "abcdefghijkl", 0.4, "d6", 0, 12)]
    src = str(tmp_path / "edges")
    for batch in (b0, b1, b2):
        spark.createDataFrame(batch, _EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "kg")
    q = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        str(tmp_path / "ckpt"),
        emit_delta=True,
    )
    q.awaitTermination(180)

    deltas = spark.read.option("basePath", f"{out}/fused_delta").parquet(
        f"{out}/fused_delta"
    )
    ids = sorted(
        r.batch_id for r in deltas.select("batch_id").distinct().collect()
    )
    assert len(ids) == 3

    # batch 0: everything added
    d0 = deltas.filter(deltas.batch_id == ids[0])
    assert {r.change for r in d0.collect()} == {"added"}

    # the merge batch: min-label CC keeps the smallest fragment's
    # entity id, so its fact reads CHANGED (support grew), the other
    # fragment's fact is REMOVED, and nothing re-adds
    dl = {
        (r.subj, r.pred, r.entity_id): r.change
        for r in deltas.filter(deltas.batch_id == ids[-1]).collect()
    }
    assert sorted(dl.values()) == ["changed", "removed"]

    # replaying deltas in order == the final snapshot (fact -> score)
    state: dict = {}
    for bid in ids:
        for r in deltas.filter(deltas.batch_id == bid).collect():
            k = (r.subj, r.pred, r.entity_id)
            if r.change == "removed":
                state.pop(k)
            else:
                state[k] = r.new_prob
    final, _ = _latest_snap(spark, out, "fused")
    want = {(r.subj, r.pred, r.entity_id): r.fused_prob for r in final.collect()}
    assert set(state) == set(want)
    for k in want:
        assert abs(state[k] - want[k]) < 1e-12, k


@pytest.mark.slow
def test_stream_build_kg_soak_25_batches(spark, tmp_path):
    """Longer-horizon composed-KG soak: 25 micro-batches over a rolling
    population of money values AND a slowly-growing raw-surface long
    tail (every 5th batch introduces a new linkable variant pair).
    Pins: end-of-horizon parity with batch build_kg, bounded sum-state
    and snapshot listings through compaction, and a per-batch wall that
    stays within a generous band of the early steady state (the
    fixture's state is floor-dominated; the guarded failure is
    O(batches) listing/read growth)."""
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    rows = []
    src = str(tmp_path / "edges")
    for b in range(25):
        batch = [
            (
                f"case-{(b + i) % 6}",
                "醫療費用",
                f"{(b * 3 + i) % 7},500元",
                0.3 + 0.1 * (i % 4),
                f"d{b * 10 + i}",
                0,
                6,
            )
            for i in range(4)
        ]
        if b % 5 == 0:
            # a fresh similar-surface pair: exercises the incremental
            # linker + CC fold on every compaction cycle
            tag = chr(ord("a") + b // 5) * 3
            batch.append(
                (f"case-{b % 6}", "醫療費用", f"unknown-{tag}-alpha",
                 0.4, f"dr{b}", 0, 13)
            )
            batch.append(
                (f"case-{b % 6}", "醫療費用", f"unknown-{tag}-alphx",
                 0.4, f"dr{b}x", 0, 13)
            )
        rows.extend(batch)
        spark.createDataFrame(batch, _EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "kg")
    q = stream_build_kg(
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
        str(tmp_path / "ckpt"),
        compact_every=5,
    )
    q.awaitTermination(600)

    want_v, want_f = build_kg(spark.createDataFrame(rows, _EDGE_SCHEMA))
    got_v, _ = _latest_snap(spark, out, "vertices")
    gv = {r.entity_id: (r.canonical_text, r.n_mentions) for r in got_v.collect()}
    wv = {r.entity_id: (r.canonical_text, r.n_mentions) for r in want_v.collect()}
    assert gv == wv
    got_f, _ = _latest_snap(spark, out, "fused")
    gf = {(r.subj, r.pred, r.entity_id): r for r in got_f.collect()}
    wf = {(r.subj, r.pred, r.entity_id): r for r in want_f.collect()}
    assert set(gf) == set(wf)
    for k, w in wf.items():
        assert abs(gf[k].fused_prob - w.fused_prob) < 1e-9, k
        assert gf[k].n_mentions == w.n_mentions, k

    for state in ("_surfaces", "_fstate"):
        dirs = [
            d for d in os.listdir(os.path.join(out, state))
            if d.startswith("batch_id=")
        ]
        assert len(dirs) <= 2 * 5 + 1, (state, sorted(dirs))
    for table in ("vertices", "fused", "_labels"):
        dirs = [
            d for d in os.listdir(os.path.join(out, table))
            if d.startswith("batch_id=")
        ]
        assert len(dirs) <= 3, (table, sorted(dirs))

    prog = [
        (p["batchId"], p["durationMs"]["triggerExecution"])
        for p in (q.recentProgress or [])
        if p.get("durationMs") and p.get("numInputRows", 0) > 0
    ]
    assert len(prog) >= 20, len(prog)
    prog.sort()
    times = [t for _, t in prog]
    early = sorted(times[3:12])[len(times[3:12]) // 2]
    tail = sorted(times[-6:])[3]
    assert tail <= 3.0 * early, (early, tail, times)


# Three edge micro-batches for the KG-stream replay and job tests: money
# surfaces that canonicalize by value, two raw surfaces (J=0.27, kept
# apart) and, in batch 2, a bridge surface that links both.
_KG_BATCHES = [
    [
        ("case-1", "醫療費用", "98,532元", 0.5, "d0", 0, 7),
        ("case-1", "醫療費用", "abcdefgh", 0.4, "d1", 0, 8),
        ("case-2", "薪資收入", "3500元", 0.7, "d2", 0, 5),
    ],
    [
        ("case-1", "醫療費用", "98532元", 0.5, "d3", 0, 6),
        ("case-1", "醫療費用", "efghijkl", 0.4, "d4", 0, 8),
        ("case-1", "醫療費用", None, None, "d5", 0, 0),
    ],
    [
        ("case-1", "醫療費用", "abcdefghijkl", 0.4, "d6", 0, 12),
        ("case-2", "薪資收入", "三千五百元", 0.6, "d7", 0, 5),
    ],
]


def _stream_case(op):
    """(start(stream, out, ckpt, **kw), input schema, three batches,
    the output dirs a snapshot/state comparison reads) of a sum-state
    stream."""
    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
        stream_fuse_triples,
    )

    if op == "fuse":
        rows = _mention_rows()
        return (stream_fuse_triples, _MENTION_SCHEMA,
                [rows[i::3] for i in range(3)], ("fused", "_state"))
    return (stream_build_kg, _EDGE_SCHEMA, _KG_BATCHES,
            ("vertices", "fused", "_surfaces", "_fstate", "_labels"))


def _dir_tree(spark, out, tables):
    """{table: {batch dir: (has _SNAPSHOT marker, sorted rows)}} with
    doubles rounded: summation order may move the last ulp."""
    def canon(v):
        return round(v, 9) if isinstance(v, float) else v

    tree = {}
    for table in tables:
        root = os.path.join(out, table)
        tree[table] = {
            d: (
                os.path.exists(os.path.join(root, d, "_SNAPSHOT")),
                sorted(
                    (tuple(canon(v) for v in r)
                     for r in spark.read.parquet(os.path.join(root, d)).collect()),
                    key=repr,
                ),
            )
            for d in sorted(os.listdir(root)) if d.startswith("batch_id=")
        }
    return tree


@pytest.mark.parametrize("op", ["fuse", "kg"])
def test_stream_replayed_compaction_batch_matches_uninterrupted(
        spark, tmp_path, op):
    """A crash after the compaction batch's state write and before its
    _SNAPSHOT marker and checkpoint commit: the restart replays that
    batch, which must leave the same snapshots and live state dirs as
    the uninterrupted run."""
    start, schema, batches, tables = _stream_case(op)
    src = str(tmp_path / "src")
    for batch in batches:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = start(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out, ckpt, compact_every=2,
        )
        q.awaitTermination(300)
        return [p["batchId"] for p in q.recentProgress
                if p.get("numInputRows", 0) > 0]

    assert run() == [0, 1, 2]
    want = _dir_tree(spark, out, tables)
    marked = [t for t in tables if want[t].get("batch_id=2", (False,))[0]]
    assert marked  # batch 2 compacted at least one state

    for name in ("2", ".2.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    for table in marked:
        os.remove(os.path.join(out, table, "batch_id=2", "_SNAPSHOT"))

    assert run() == [2]  # the replay
    assert _dir_tree(spark, out, tables) == want


# Jobs each of three single-file triggers ran when these bounds were
# set: upper bounds, so a change may lower them but never raise them.
_JOBS_PER_TRIGGER = {"fuse": [5, 6, 7], "kg": [25, 60, 58]}


@pytest.mark.parametrize("op", ["fuse", "kg"])
def test_stream_jobs_per_trigger_ratchet(spark, tmp_path, count_jobs, op):
    """Spark jobs per trigger stay within the ratchet; the third trigger
    is a compaction batch (compact_every=2)."""
    start, schema, batches, _ = _stream_case(op)
    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    jobs = []
    for batch in batches:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _, n = count_jobs(lambda: start(
            spark.readStream.schema(schema).parquet(src), out, ckpt,
            compact_every=2,
        ))
        jobs.append(n)
    assert all(
        n <= bound for n, bound in zip(jobs, _JOBS_PER_TRIGGER[op])
    ), (jobs, _JOBS_PER_TRIGGER[op])
