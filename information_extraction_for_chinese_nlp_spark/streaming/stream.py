"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.8); streaming is the new
Spark-native capability for continuously-arriving transcripts:

- ``stream_edges``: incremental triple extraction via ``foreachBatch`` —
  each micro-batch runs the exact batch plan (one code path, no
  batch/stream drift). foreachBatch itself is at-least-once on retry;
  the sink writes each batch into its own overwritten batch_id=N
  directory, which makes replays idempotent (exactly-once at rest).
  Caveat: a conversation split across micro-batches is assembled per
  batch — use ``assemble_stream_stateful`` upstream when batches can
  split conversations.
- ``assemble_stream_stateful``: custom stateful operator
  (``applyInPandasWithState``) accumulating turns per conv_id in group
  state and emitting the assembled document after a session gap —
  correct cross-batch assembly with out-of-order turns.
- ``windowed_edge_counts``: event-time tumbling window aggregation with
  a watermark for late data — the monitoring/rollup stream.
- ``stream_line_dedup``: prefix-consistent boilerplate removal — the
  hot-line df table accumulates across batches (partials + compacted
  snapshots, replay-idempotent) and each batch rewrites its documents
  through the SAME membership legs as the batch operator.
- ``stream_fuse_triples``: incremental knowledge fusion — per-(fact,
  doc) combinable partials accumulate across batches and each batch
  finalizes the full fused fact table through the SAME noisy-or
  expressions as the batch operator.
- ``stream_build_kg``: the COMPOSED streaming KG — all state keyed by
  the stable pre-canonicalization entity_key, the labeling folded
  incrementally, and canonicalization applied only at snapshot time,
  so a late-arriving bridge surface retroactively merges entities and
  re-fuses their facts; snapshots equal batch ``build_kg`` over the
  concatenated edges.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_triples
from ..schemas import TRANSCRIPTS


def _hadoop_fs(spark: SparkSession, path: str):
    """(fs, Path class, path) via the JVM Hadoop FS API — one driver-side
    listing instead of per-batch exists() RPCs; shared by the
    foreachBatch state managers below."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    path_cls = jvm.org.apache.hadoop.fs.Path
    p = path_cls(path)
    return p.getFileSystem(hconf), path_cls, p


def _is_orderable(dt) -> bool:
    """Whether Spark can sort/compare values of this type (max(struct),
    ORDER BY). Maps (and Spark 4 variants) are not orderable; arrays
    and structs inherit from their element/field types."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _is_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_is_orderable(f.dataType) for f in dt.fields)
    return dt.typeName() != "variant"


def _batch_dir_id(status):
    """batch_id of a 'batch_id=N' state directory, None for foreign dirs."""
    name = status.getPath().getName()
    if not name.startswith("batch_id="):
        return None
    try:
        return int(name.split("=", 1)[1])
    except ValueError:
        return None


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_edges(
    transcripts_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    max_seq_len: int = 512,
    available_now: bool = True,
):
    """Incremental extraction: micro-batch -> batch pipeline -> append."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        edges = extract_triples(batch_df, max_seq_len=max_seq_len)
        # overwrite INTO a per-batch directory: a replayed micro-batch
        # (foreachBatch is at-least-once) rewrites the same directory, so
        # the sink stays exactly-once at rest; readers load output_path
        # and get batch_id via partition discovery.
        edges.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    writer = (
        transcripts_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_exact(
    docs_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    compact_every: int | None = 10,
):
    """Incremental exact dedup — the streaming face of
    ``operators.dedup.dedup_exact`` for continuously-arriving corpora:
    a document survives iff its text hash was never emitted before,
    within the micro-batch (min id wins, matching the batch operator)
    or by any earlier batch.

    State = the emitted hash set, stored as parquet under
    ``<output_path>/_seen/batch_id=N``. Each batch OVERWRITES its own
    two directories (uniques + seen-hashes), and the cross-batch anti
    join reads only ``batch_id < N`` — so a replayed micro-batch
    (foreachBatch is at-least-once) neither double-emits nor
    anti-joins against its own previous attempt. Exactly-once at rest.

    Compaction bounds the state listing on long-lived streams: every
    ``compact_every`` batches, the batch writes the FULL seen-hash
    union (everything before it plus its own firsts) as its own
    ``batch_id=N`` snapshot, then deletes directories older than the
    PREVIOUS snapshot. Replay-safe by construction: a replayed batch M
    only ever reads ``batch_id < M``, and deletions at batch N touch
    only ids < N-compact_every — content wholly contained in the
    N-compact_every snapshot, which is never deleted by that same
    batch. Live directory count stays ≤ ~2·compact_every+1.
    """
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 (or None to disable)")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # NULL-text rows get a sentinel hash (never a 32-hex md5) so they
        # form ONE canonical group instead of vanishing in null-unsafe
        # joins — dedup_exact's groupBy keeps its NULL group too
        hashed = batch_df.withColumn(
            "_h", F.coalesce(F.md5(F.col(text_col)), F.lit("<null>"))
        )
        keep = hashed.groupBy("_h").agg(F.min(id_col).alias("_keep_id"))
        # dropDuplicates: an at-least-once upstream can deliver the SAME
        # (id, text) row twice in one batch — batch-operator parity means
        # exactly one output row per distinct text. The keeper match is
        # NULL-SAFE: a group whose every id is NULL has _keep_id NULL
        # (min skips nulls), and a plain join on the id column would
        # silently drop the group AND its hash from the _seen state —
        # dedup_exact keeps a keep_id=NULL row for it.
        firsts = (
            hashed.join(keep, on="_h", how="inner")
            .filter(F.col(id_col).eqNullSafe(F.col("_keep_id")))
            .drop("_keep_id")
            .dropDuplicates(["_h", id_col])
        )
        # one partition-discovery read with an EXPLICIT schema: no
        # footer sampling (this batch's own in-flight directory may hold
        # a partial file on replay — partition pruning on batch_id < N
        # never touches its files), no broad except swallowing real IO
        # errors.
        fs, _Path, seen_root = _hadoop_fs(spark, f"{output_path}/_seen")
        seen = None
        if fs.exists(seen_root):
            seen = (
                spark.read.schema("_h string, batch_id long")
                .option("basePath", f"{output_path}/_seen")
                .parquet(f"{output_path}/_seen")
                .filter(F.col("batch_id") < batch_id)
                .select("_h")
            )
            firsts = firsts.join(seen, on="_h", how="left_anti")
        firsts = firsts.cache()
        firsts.drop("_h").write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )
        do_compact = (
            compact_every is not None
            and batch_id > 0
            and batch_id % compact_every == 0
            and seen is not None
        )
        if do_compact:
            # this batch's _seen dir becomes a full snapshot: union of
            # everything strictly before it plus its own firsts (the two
            # sets are disjoint — firsts was anti-joined — but residual
            # pre-snapshot dirs can overlap the previous snapshot, hence
            # the distinct)
            state = seen.union(firsts.select("_h")).distinct()
        else:
            state = firsts.select("_h")
        state.write.mode("overwrite").parquet(
            f"{output_path}/_seen/batch_id={batch_id}"
        )
        firsts.unpersist()
        if do_compact:
            # Mark this dir as a full snapshot (the overwrite above wiped
            # any marker from a previous attempt — re-marking is the
            # replay-idempotent last step), then drop dirs older than the
            # PREVIOUS marked snapshot only: anything in [prev, N) is
            # still needed if THIS batch replays (it reads batch_id < N),
            # and everything below prev is contained in prev's snapshot.
            # Keying deletion on actual markers (not arithmetic) stays
            # safe when compact_every changes between restarts.
            marker = _Path(f"{output_path}/_seen/batch_id={batch_id}/_SNAPSHOT")
            fs.create(marker, True).close()
            prev_snaps = [
                bid
                for st in fs.listStatus(seen_root)
                if (bid := _batch_dir_id(st)) is not None
                and bid < batch_id
                and fs.exists(
                    _Path(f"{output_path}/_seen/batch_id={bid}/_SNAPSHOT")
                )
            ]
            if prev_snaps:
                cutoff = max(prev_snaps)
                for st in fs.listStatus(seen_root):
                    bid = _batch_dir_id(st)
                    if bid is not None and bid < cutoff:
                        fs.delete(st.getPath(), True)

    writer = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_line_dedup(
    docs_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    compact_every: int | None = 10,
):
    """Streaming face of ``operators.dedup.line_dedup`` — CCNet/C4
    hot-line (boilerplate) removal over a continuously-arriving corpus
    with PREFIX semantics: batch N's documents are rewritten against
    the hot-line set accumulated over batches 0..N (a line becomes
    boilerplate once its cumulative distinct-doc frequency reaches
    ``min_df``; documents emitted by earlier batches are never
    retro-edited — a streaming sink cannot retract). A corpus arriving
    as ONE batch therefore equals the batch operator exactly (pinned in
    tests); the membership/rewrite stage IS the batch operator's
    ``_line_dedup_apply``, so the two faces cannot drift.

    State layout mirrors ``stream_dedup_exact``'s replay discipline
    (foreachBatch is at-least-once; every write is an overwrite of a
    batch-id-keyed directory, so replays are idempotent — exactly-once
    at rest):

    - ``<output>/_df/batch_id=N``: batch N's PARTIAL line dfs (distinct
      docs within the batch; doc ids are assumed unique across batches,
      and in-batch redelivery is collapsed by dropDuplicates).
    - ``<output>/_df_snap/batch_id=N``: every ``compact_every`` batches
      the FULL cumulative df table snapshots here — completed snapshots
      carry a ``_SNAPSHOT`` marker written as the replay-idempotent
      LAST step (a half-written snapshot from a crash is never picked
      as a base, even if a restart changes ``compact_every`` so the
      replayed batch no longer compacts) — then partials at or below
      the PREVIOUS marked snapshot and snapshots before it are
      deleted. Reads always take the latest MARKED snapshot STRICTLY
      BEFORE the current batch plus the partials after it — a replayed
      batch N still finds snapshot(base) + partials(base, N] intact
      (its own deletions only touched ids <= base), and its own
      snapshot at N is ignored (base < N) and rewritten.
    - ``<output>/batch_id=N``: the rewritten documents
      (doc_id, *passengers, text, n_dropped).
    """
    from ..operators.dedup import _line_dedup_apply, _validate_line_dedup_args

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 (or None to disable)")
    # fail BEFORE the stream starts (mirrors the compact_every
    # pre-check): a passenger column colliding with the fixed output
    # names (doc_id/text/n_dropped) would otherwise surface only inside
    # foreachBatch, killing the query at its first micro-batch after
    # checkpoint state already exists
    for col in (id_col, text_col):
        if col not in docs_stream.columns:
            raise ValueError(
                f"stream_line_dedup: column {col!r} not in input stream "
                f"schema {docs_stream.columns}"
            )
    passengers = tuple(
        c for c in docs_stream.columns if c not in (id_col, text_col)
    )
    _validate_line_dedup_args(passengers)
    # decided BEFORE the stream starts, like the checks above: whether
    # every non-id column is orderable (max(struct) legal) or the
    # in-batch dedup must order on a JSON serialization instead
    all_orderable = all(
        _is_orderable(f.dataType)
        for f in docs_stream.schema.fields
        if f.name != id_col
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import _hot_lines, _line_df

        spark = batch_df.sparkSession
        # in-batch redelivery collapse. DETERMINISTIC tie (max over the
        # struct of non-id columns), not dropDuplicates: the frame is
        # consumed twice (df-state write + document rewrite), and a
        # tie-nondeterministic pick pinned only by .cache() can diverge
        # if a cached partition is evicted/lost between the two reads —
        # or on an at-least-once REPLAY, silently rewriting a different
        # text for the same doc. With an ordered tie the two reads (and
        # any replay) agree by construction; cache below is perf-only.
        others = [c for c in batch_df.columns if c != id_col]
        row_s = "_row"
        while row_s in batch_df.columns:
            row_s += "_"
        payload = F.struct(*others)
        if all_orderable:
            picked = F.max(payload)
        else:
            # a passenger carries an unorderable type (e.g. MapType):
            # max(struct) would throw DATATYPE_MISMATCH. Order on the
            # row's JSON serialization instead — a total order over
            # distinct rows (to_json of the full row struct differs
            # whenever any value differs; a tie means byte-identical
            # rows, where any pick is the same row), so the pick stays
            # deterministic across the two consumers and replays.
            picked = F.max_by(payload, F.to_json(payload))
        batch_df = (
            batch_df.groupBy(id_col)
            .agg(picked.alias(row_s))
            .select(id_col, *[F.col(f"{row_s}.{c}").alias(c) for c in others])
            .cache()
        )
        partial = _line_df(batch_df, id_col, text_col)
        partial.write.mode("overwrite").parquet(
            f"{output_path}/_df/batch_id={batch_id}"
        )
        fs, _Path, df_root = _hadoop_fs(spark, f"{output_path}/_df")
        snap_root_s = f"{output_path}/_df_snap"
        fs_snap, _P, snap_root = _hadoop_fs(spark, snap_root_s)
        base = None
        if fs_snap.exists(snap_root):
            snaps = [
                bid
                for st in fs_snap.listStatus(snap_root)
                if (bid := _batch_dir_id(st)) is not None
                and bid < batch_id
                and fs_snap.exists(
                    _Path(f"{snap_root_s}/batch_id={bid}/_SNAPSHOT")
                )
            ]
            base = max(snaps) if snaps else None
        parts = (
            spark.read.schema("_line string, _df long, batch_id long")
            .option("basePath", f"{output_path}/_df")
            .parquet(f"{output_path}/_df")
            .filter(
                (F.col("batch_id") <= batch_id)
                & (F.col("batch_id") > (base if base is not None else -1))
            )
            .select("_line", "_df")
        )
        if base is not None:
            parts = parts.union(
                spark.read.schema("_line string, _df long, batch_id long")
                .option("basePath", snap_root_s)
                .parquet(snap_root_s)
                .filter(F.col("batch_id") == base)
                .select("_line", "_df")
            )
        cum = parts.groupBy("_line").agg(F.sum("_df").alias("_df"))
        # only the SMALL hot subset materializes per batch; the full
        # cumulative table is evaluated again only on the 1-in-
        # compact_every batches that snapshot it
        out = _line_dedup_apply(
            batch_df, _hot_lines(cum, min_df), id_col=id_col,
            text_col=text_col, keep=passengers,
        )
        out.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )
        batch_df.unpersist()
        if (
            compact_every is not None
            and batch_id > 0
            and batch_id % compact_every == 0
        ):
            cum.write.mode("overwrite").parquet(
                f"{snap_root_s}/batch_id={batch_id}"
            )
            # marker LAST (replay-idempotent): a crash before this line
            # leaves an unmarked dir no future batch will read as base
            fs_snap.create(
                _Path(f"{snap_root_s}/batch_id={batch_id}/_SNAPSHOT"), True
            ).close()
            if base is not None:
                for st in fs.listStatus(df_root):
                    bid = _batch_dir_id(st)
                    if bid is not None and bid <= base:
                        fs.delete(st.getPath(), True)
                for st in fs_snap.listStatus(snap_root):
                    bid = _batch_dir_id(st)
                    if bid is not None and bid < base:
                        fs_snap.delete(st.getPath(), True)

    writer = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_merge_components(
    edges_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    src: str = "src",
    dst: str = "dst",
    available_now: bool = True,
    keep_snapshots: int = 2,
):
    """Incremental KG canonicalization stream: each micro-batch folds its
    match edges into the accumulated (node, component) labeling via
    ``operators.components.merge_components`` — the CC iteration runs on
    the batch-bounded contraction graph, never the accumulated
    10^12-turn entity graph.

    State = the labeling itself (the materialized vertex table: one row
    per entity), written as a FULL snapshot per batch under
    ``<output_path>/batch_id=N``. Replay safety follows the module
    convention: each batch OVERWRITES its own directory and reads the
    latest snapshot with ``batch_id < N``, so a replayed micro-batch
    (foreachBatch is at-least-once) folds into the same predecessor and
    rewrites byte-identical output — exactly-once at rest. Snapshots
    more than ``keep_snapshots`` behind are deleted (only the immediate
    predecessor is ever re-read on replay).

    Final labeling = the max-batch_id snapshot; equality with a batch
    ``connected_components`` over the concatenated edges is pinned in
    test_streaming (and is order-independent, since min-label CC is).
    """
    if keep_snapshots < 1:
        # replay reads the immediate predecessor: deleting it (0) would
        # let a crash between delete and checkpoint-commit silently
        # RESET the accumulated labeling to just the replayed batch
        raise ValueError("keep_snapshots must be >= 1")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.components import connected_components, merge_components

        spark = batch_df.sparkSession
        fs, _Path, root = _hadoop_fs(spark, output_path)

        prev = None
        if fs.exists(root):
            prior = [
                bid
                for st in fs.listStatus(root)
                if (bid := _batch_dir_id(st)) is not None and bid < batch_id
            ]
            if prior:
                # node/component types follow the stream's id columns —
                # a hardcoded string schema would throw on INT64
                # snapshots. Widened via a schema-only union (src int +
                # dst long ⇒ snapshot written as long, so reading with
                # src's narrower type alone would also throw).
                node_t = (
                    batch_df.select(F.col(src).alias("_n"))
                    .union(batch_df.select(F.col(dst).alias("_n")))
                    .schema["_n"].dataType.simpleString()
                )
                prev = spark.read.schema(
                    f"node {node_t}, component {node_t}"
                ).parquet(f"{output_path}/batch_id={max(prior)}")
        if prev is None:
            labels = connected_components(batch_df, src=src, dst=dst)
        else:
            labels = merge_components(prev, batch_df, src=src, dst=dst)
        labels.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )
        if fs.exists(root):
            for st in fs.listStatus(root):
                bid = _batch_dir_id(st)
                if bid is not None and bid < batch_id - keep_snapshots:
                    fs.delete(st.getPath(), True)

    writer = (
        edges_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def assemble_stream_stateful(
    transcripts_stream: DataFrame,
    gap_seconds: int = 3600,
):
    """Stateful cross-batch turn assembly via ``applyInPandasWithState``.

    Fixes the foreachBatch caveat (conversations split across
    micro-batches): per conv_id, turns accumulate in group state and the
    assembled document is emitted only when the conversation has been
    idle for ``gap_seconds`` (processing-time session gap). Ordering is
    by turn_idx at emission, so late-arriving middle turns are handled
    as long as they land before the gap closes.

    Output: (doc_id, text, n_turns) rows, one per closed conversation.

    Tail caveat: processing-time timeouts fire at the START of a LATER
    micro-batch, never when the query stops — under a
    ``trigger(availableNow=True)`` drain, conversations still open after
    the last input file stay in checkpointed state unemitted. They are
    NOT lost (the state survives in the checkpoint): flush them by
    running the query again against the same checkpoint after
    ``gap_seconds`` with any new input (or an empty trigger interval on
    a continuous run). For drain-style jobs where every conversation
    must emit in one invocation, use the batch path (``assemble_turns``)
    — the per-batch foreachBatch caveat does not apply to a full drain.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assemble_group(key, pdfs, state: GroupState):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        (conv_id,) = key
        if state.hasTimedOut:
            turns, = state.get
            state.remove()
            ordered = sorted(turns, key=lambda t: t[0])
            text = "".join(t[1] for t in ordered)
            yield pd.DataFrame(
                {"doc_id": [conv_id], "text": [text], "n_turns": [len(ordered)]}
            )
            return
        turns = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            turns.extend(
                (int(i), t if t is not None else "")
                for i, t in zip(pdf["turn_idx"], pdf["text"])
            )
        state.update((turns,))
        state.setTimeoutDuration(gap_seconds * 1000)
        return
        yield  # generator marker: nothing emitted while the conv is open

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        assemble_group,
        outputStructType="doc_id string, text string, n_turns long",
        stateStructType="turns array<struct<turn_idx:int,text:string>>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_edge_counts(
    transcripts_stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Event-time rollup: mentions per (window, role) with late-data
    tolerance = watermark. Pure streaming aggregation (stateful, no
    foreachBatch) — demonstrates watermark + window semantics."""
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(
                # same mention class the extraction stub scans for —
                # ASCII digits alone would miss the dominant zh surface
                # forms (五百元, 兩千五百元)
                F.when(
                    F.col("text").rlike(
                        "(?:[0-9][0-9,\\.]*"
                        "|[零〇一二三四五六七八九十百千萬万億兩两]+)+元"
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_money_turns"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role",
            "n_turns",
            "n_money_turns",
        )
    )



# ---------------------------------------------------------------------------
# Sum-state management shared by the incremental-aggregation streams
# (stream_fuse_triples, stream_build_kg). Unlike the SET state of
# stream_dedup_exact (where re-reading a compacted directory is
# idempotent), these states are SUMS — the reader must take the latest
# marked snapshot plus only the incremental directories AFTER it, never
# both a snapshot and a directory it folded in.
# ---------------------------------------------------------------------------


def _read_sum_state(spark, root_str, template, batch_id, fs, _Path):
    """Marker-aware read of a sum-state directory tree. Returns
    (frame_or_None, snap_ids, prior_ids); the frame covers exactly the
    accumulated state before ``batch_id`` (residual pre-snapshot dirs —
    deletion lags one marker behind — are partition-pruned out)."""
    from pyspark.sql.types import LongType, StructField

    prior_ids: list[int] = []
    snap_ids: list[int] = []
    root = _Path(root_str)
    if fs.exists(root):
        for st in fs.listStatus(root):
            bid = _batch_dir_id(st)
            if bid is None or bid >= batch_id:
                # >= batch_id: this batch's own previous attempt —
                # replay must not read it (it gets overwritten)
                continue
            prior_ids.append(bid)
            if fs.exists(_Path(f"{root_str}/batch_id={bid}/_SNAPSHOT")):
                snap_ids.append(bid)
    if not prior_ids:
        return None, snap_ids, prior_ids
    lo = max(snap_ids) if snap_ids else min(prior_ids)
    # fresh StructType: StructType.add MUTATES in place and
    # DataFrame.schema is cached, so template.schema.add(...) would
    # graft a phantom batch_id field onto the CALLER's partials frame
    # (ADVICE r7)
    from pyspark.sql.types import StructType

    schema = StructType(
        list(template.schema.fields) + [StructField("batch_id", LongType())]
    )
    frame = (
        spark.read.schema(schema)
        .option("basePath", root_str)
        .parquet(root_str)
        .filter((F.col("batch_id") >= lo) & (F.col("batch_id") < batch_id))
        .drop("batch_id")
    )
    return frame, snap_ids, prior_ids


def _write_sum_state(state_out, root_str, batch_id, do_compact, snap_ids,
                     fs, _Path):
    """Overwrite this batch's own directory; on compaction, mark it a
    full snapshot (re-marking after the overwrite is the
    replay-idempotent last step) and delete directories older than the
    PREVIOUS marker — still needed if THIS batch replays."""
    state_out.write.mode("overwrite").parquet(
        f"{root_str}/batch_id={batch_id}"
    )
    if do_compact:
        marker = _Path(f"{root_str}/batch_id={batch_id}/_SNAPSHOT")
        fs.create(marker, True).close()
        if snap_ids:
            cutoff = max(snap_ids)
            for st in fs.listStatus(_Path(root_str)):
                bid = _batch_dir_id(st)
                if bid is not None and bid < cutoff:
                    fs.delete(st.getPath(), True)


def _prune_batch_dirs(fs, _Path, root_str, batch_id, keep):
    root = _Path(root_str)
    if fs.exists(root):
        for st in fs.listStatus(root):
            bid = _batch_dir_id(st)
            if bid is not None and bid < batch_id - keep:
                fs.delete(st.getPath(), True)


def _require_columns(stream: DataFrame, needed: dict) -> None:
    """Pre-start schema validation (ADVICE r6 discipline): fail before
    the writer is built — a missing column discovered inside
    foreachBatch leaves a wedged checkpoint for a query that can never
    run."""
    missing = {
        role: col for role, col in needed.items()
        if col is not None and col not in stream.columns
    }
    if missing:
        raise ValueError(
            f"input stream is missing required columns {missing} "
            f"(stream has {stream.columns})"
        )


def stream_fuse_triples(
    triples_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    prob_col: str = "prob",
    doc_col: str = "doc_id",
    eps: float = 1e-12,
    ts_col: str | None = None,
    available_now: bool = True,
    compact_every: int | None = 10,
    keep_snapshots: int = 2,
):
    """Incremental knowledge fusion — the streaming face of
    ``operators.fusion.fuse_triples`` for continuously-arriving mention
    streams: after each micro-batch, ``<output_path>/fused/batch_id=N``
    holds the full fused fact table over EVERY mention seen so far,
    equal (pinned in tests) to the batch operator over the concatenated
    input.

    Noisy-or is a combinable SUM in log space, so the state is NOT the
    mention stream — it is per-(fact, doc) partials (summed log-miss,
    mention count, max prob), one row per distinct (subj, pred, obj,
    doc) ever seen. Each batch:

    1. aggregates its own mentions to partials (batch-bounded shuffle,
       map-side combine; NULL-prob quarantine rows excluded exactly as
       in the batch operator);
    2. merges them with the accumulated partials (sum/sum/max — the
       same associative ops, so replay or re-ordering cannot change
       the result);
    3. finalizes the fused table via the SAME shared expressions the
       batch operator uses (``log_miss_expr`` / ``fused_prob_expr`` —
       one implementation, the faces cannot drift).

    State layout follows the module convention: each batch OVERWRITES
    its own ``_state/batch_id=N`` partials directory and reads only
    ``batch_id < N`` (plus its in-memory partials), so an at-least-once
    replay is idempotent — exactly-once at rest. Compaction follows
    the shared sum-state discipline (``_read_sum_state`` /
    ``_write_sum_state``): marked snapshots, incrementals-after-marker
    reads, deletion one marker behind. ``fused/`` snapshots older than
    ``keep_snapshots`` are pruned (derived data; replay needs only
    ``_state``).

    Scale shape: per-batch cost is one batch-bounded aggregation plus
    one merge shuffle over |distinct (fact, doc)| — orders smaller
    than the accumulated mention count for any corpus with repeated
    facts; nothing ever rescans prior batches' raw mentions.

    ``ts_col``: optional mention-timestamp column, mirroring the batch
    face — first_seen/last_seen ride the partials as combinable
    min/max, no extra state or pass.
    """
    from ..operators.fusion import fused_prob_expr, log_miss_expr

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 (or None to disable)")
    if keep_snapshots < 1:
        raise ValueError("keep_snapshots must be >= 1")
    _require_columns(
        triples_stream,
        {"subj_col": subj_col, "pred_col": pred_col, "obj_col": obj_col,
         "prob_col": prob_col, "doc_col": doc_col, "ts_col": ts_col},
    )
    fact = [subj_col, pred_col, obj_col]
    temporal_partial = (
        [F.min(ts_col).alias("first_seen"), F.max(ts_col).alias("last_seen")]
        if ts_col is not None
        else []
    )
    temporal_merge = (
        [
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        ]
        if ts_col is not None
        else []
    )
    temporal_out = ["first_seen", "last_seen"] if ts_col is not None else []

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partials = (
            batch_df.filter(F.col(prob_col).isNotNull())
            .groupBy(*fact, doc_col)
            .agg(
                F.sum(log_miss_expr(prob_col, eps)).alias("_log_miss"),
                F.count("*").alias("n_mentions"),
                F.max(prob_col).alias("max_prob"),
                *temporal_partial,
            )
        )
        # consumed twice on every batch (state write + fused snapshot):
        # without the cache the batch-bounded aggregation AND the
        # source-file read execute twice per batch, forever
        partials = partials.cache()

        state_root = f"{output_path}/_state"
        fs, _Path, _ = _hadoop_fs(spark, state_root)
        prior, snap_ids, prior_ids = _read_sum_state(
            spark, state_root, partials, batch_id, fs, _Path
        )
        merged = partials
        if prior is not None:
            merged = (
                prior.unionByName(partials)
                .groupBy(*fact, doc_col)
                .agg(
                    F.sum("_log_miss").alias("_log_miss"),
                    F.sum("n_mentions").alias("n_mentions"),
                    F.max("max_prob").alias("max_prob"),
                    *temporal_merge,
                )
            )

        do_compact = (
            compact_every is not None
            and batch_id > 0
            and batch_id % compact_every == 0
            and bool(prior_ids)
        )
        if do_compact:
            # consumed twice on compaction batches (snapshot + fused)
            merged = merged.cache()
        _write_sum_state(
            merged if do_compact else partials,
            state_root, batch_id, do_compact, snap_ids, fs, _Path,
        )

        fused = merged.groupBy(*fact).agg(
            F.sum("_log_miss").alias("_log_miss"),
            F.sum("n_mentions").alias("n_mentions"),
            # count(doc_col), not count(*): merged is one row per
            # (fact, doc) INCLUDING a possible NULL-doc group, and the
            # batch face's countDistinct(doc_col) ignores NULLs — a
            # count(*) here would read NULL-doc mentions as one extra
            # source and break batch/stream parity by one (ADVICE r7)
            F.count(doc_col).alias("n_docs"),
            F.max("max_prob").alias("max_prob"),
            F.min(doc_col).alias("first_doc"),
            *temporal_merge,
        )
        fused.select(
            *fact,
            fused_prob_expr("_log_miss", "max_prob").alias("fused_prob"),
            "n_mentions",
            "n_docs",
            "max_prob",
            "first_doc",
            *temporal_out,
        ).write.mode("overwrite").parquet(
            f"{output_path}/fused/batch_id={batch_id}"
        )
        if do_compact:
            merged.unpersist()
        partials.unpersist()

        _prune_batch_dirs(
            fs, _Path, f"{output_path}/fused", batch_id, keep_snapshots
        )

    writer = (
        triples_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_build_kg(
    edges_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    link_threshold: float = 0.6,
    link_max_bucket: int | None = 10_000,
    available_now: bool = True,
    compact_every: int | None = 10,
    keep_snapshots: int = 2,
    emit_delta: bool = False,
):
    """Incremental COMPOSED KG construction — the streaming face of
    ``plans.graph.build_kg``: after each micro-batch of extraction
    edges, ``<output_path>/vertices/batch_id=N`` and
    ``fused/batch_id=N`` hold the full canonical vertex table and fused
    fact table over EVERY edge seen so far, equal (pinned in tests) to
    the batch ``build_kg`` over the concatenated edges.

    The design problem is RETROACTIVE MERGE: a surface variant arriving
    in batch 9 can link two entities that batches 1-8 kept separate —
    every fact and surface count attributed to either entity must
    re-combine. The solution is to key ALL accumulated state by the
    STABLE pre-canonicalization ``entity_key`` (pred#normalized-value,
    or pred#raw#surface) and apply the CURRENT labeling only at
    snapshot time:

    - ``_surfaces/batch_id=N``: per (pred, obj) surface counts +
      entity_key/obj_norm — combinable sums under the shared sum-state
      discipline (``_read_sum_state`` / ``_write_sum_state``).
    - ``_fstate/batch_id=N``: per (subj, pred, entity_key, doc) fusion
      partials (log-miss sum, mention count, max prob) — ditto.
    - ``_labels/batch_id=N``: the (node, component) labeling over
      linker pairs, folded incrementally: each batch computes banded
      MinHash-LSH candidates for its NEW raw surfaces against the
      accumulated surface set (new×old meet in shared (pred, band)
      buckets, new×new within the batch; exact-Jaccard verified — the
      same ``plans.graph.banded_surfaces`` projection as the batch
      linker, so the accumulated pair set equals the batch pair set)
      and folds them via ``merge_components`` — iteration bounded by
      the batch's pairs, never the accumulated graph. Full snapshot per
      batch, pruned.

    ``link_max_bucket`` caps degenerate (pred, band) buckets like the
    batch linker (thousands of identical junk surfaces would make the
    candidate join quadratic); ``None`` = explicit opt-out. Streaming
    cap semantics are necessarily ORDER-DEPENDENT: pairs a bucket
    produced while still under the cap are already folded into the
    labeling and cannot be retracted when the bucket later crosses it
    (batch drops ALL of an over-cap bucket's pairs), so snapshot ==
    batch parity is exact only while every bucket stays under the cap
    — the regime the cap exists to preserve.

    Snapshot time: canon_key = coalesce(label, entity_key); vertices =
    surface counts regrouped under canon_key (argmax surface, summed
    support); fused = fusion partials regrouped (subj, pred, canon_key)
    with per-doc merge for exact n_docs — a batch-9 merge silently
    re-fuses batch-1 facts because the regroup, not the state, carries
    the canonicalization.

    Replay safety follows the module convention everywhere: each batch
    overwrites its own directories and reads only ``batch_id < N``
    (sum states via the marker-aware snapshot/incremental split).

    Scale shape per batch: candidate generation touches only NEW
    surfaces (banded, capped recall construction — the accumulated
    surface table is join-probed on bucket keys, never self-joined);
    the CC fold is batch-bounded; the snapshot regroups are one
    shuffle each over state tables orders smaller than the edge
    stream. The per-batch floor is the snapshot regroup — for a pure
    mention counter use ``stream_fuse_triples``; this operator buys
    full canonicalization semantics.

    ``emit_delta=True`` additionally writes
    ``fused_delta/batch_id=N`` = ``operators.fusion.kg_diff`` of the
    previous fused snapshot against this one — what downstream
    incremental consumers (index updaters, notification feeds) want
    instead of re-diffing full snapshots; a retroactive merge shows up
    as its removed fragment facts plus the changed/added merged fact.
    Batch 0 (or a first batch after snapshot loss) emits everything as
    'added'. Deltas are derived data (replay rewrites them) and are
    pruned like the snapshots.
    """
    from ..operators.components import connected_components, merge_components
    from ..operators.fusion import fused_prob_expr, log_miss_expr
    from ..operators.linking import jaccard
    from ..plans.graph import banded_surfaces, normalize_objects

    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 (or None to disable)")
    if keep_snapshots < 1:
        raise ValueError("keep_snapshots must be >= 1")
    _require_columns(
        edges_stream,
        {"subj": "subj", "pred": "pred", "obj": "obj", "prob": "prob",
         "doc_id": "doc_id"},
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, _Path, _ = _hadoop_fs(spark, output_path)
        normed = normalize_objects(batch_df).localCheckpoint(eager=False)

        # ---- surface-count state (pred, obj): sums ---------------------
        surf_root = f"{output_path}/_surfaces"
        surf_partials = normed.groupBy("pred", "obj").agg(
            F.first("entity_key").alias("entity_key"),
            F.first("obj_norm").alias("obj_norm"),
            F.count("*").alias("n"),
        )
        prior_surf, surf_snaps, surf_prior = _read_sum_state(
            spark, surf_root, surf_partials, batch_id, fs, _Path
        )
        if prior_surf is not None:
            surfaces = (
                prior_surf.unionByName(surf_partials)
                .groupBy("pred", "obj")
                .agg(
                    F.first("entity_key").alias("entity_key"),
                    F.first("obj_norm").alias("obj_norm"),
                    F.sum("n").alias("n"),
                )
            )
        else:
            surfaces = surf_partials
        surfaces = surfaces.cache()

        # ---- incremental linking over NEW raw surfaces ------------------
        new_raw = surf_partials.filter(F.col("obj_norm") == "nan").select(
            "pred", "obj", "entity_key"
        )
        if prior_surf is not None:
            new_raw = new_raw.join(
                prior_surf.select("pred", "obj").distinct(),
                on=["pred", "obj"],
                how="left_anti",
            )
        all_raw = surfaces.filter(F.col("obj_norm") == "nan").select(
            "pred", "obj", "entity_key"
        )
        nb = banded_surfaces(new_raw).withColumnRenamed("entity_key", "_nk")
        ab = banded_surfaces(all_raw)
        if link_max_bucket is not None:
            # cap on the ACCUMULATED bucket size (the join's blowup
            # factor); see the docstring for the order-dependence note
            sizes = ab.groupBy("pred", "band_id", "band").agg(
                F.count("*").alias("_bsz")
            )
            ab = ab.join(
                sizes.filter(F.col("_bsz") <= link_max_bucket).drop("_bsz"),
                on=["pred", "band_id", "band"],
            )
        # new surfaces probe the accumulated banded surfaces on the
        # bucket key — covers new×old AND new×new (new ⊆ all). The
        # orientation is NORMALIZED (least/greatest), not filtered to
        # _nk < key: an old co-bucket surface with a smaller key never
        # probes again, so a one-sided filter would lose that pair
        # forever; new×new duplicates collapse in the distinct
        cand = (
            nb.join(ab, on=["pred", "band_id", "band"])
            .filter(F.col("_nk") != F.col("entity_key"))
            .select(
                F.least(F.col("_nk"), F.col("entity_key")).alias("src"),
                F.greatest(F.col("_nk"), F.col("entity_key")).alias("dst"),
                jaccard(nb["grams"], ab["grams"]).alias("sim"),
            )
        )
        pairs = (
            cand.filter(F.col("sim") >= link_threshold)
            .select("src", "dst")
            .distinct()
        )

        labels_root = f"{output_path}/_labels"
        prev_labels = None
        if fs.exists(_Path(labels_root)):
            prior = [
                bid
                for st in fs.listStatus(_Path(labels_root))
                if (bid := _batch_dir_id(st)) is not None and bid < batch_id
            ]
            if prior:
                prev_labels = spark.read.schema(
                    "node string, component string"
                ).parquet(f"{labels_root}/batch_id={max(prior)}")
        if prev_labels is None:
            labels = connected_components(pairs, src="src", dst="dst")
        else:
            labels = merge_components(prev_labels, pairs, src="src", dst="dst")
        labels.write.mode("overwrite").parquet(
            f"{labels_root}/batch_id={batch_id}"
        )
        labels = spark.read.schema("node string, component string").parquet(
            f"{labels_root}/batch_id={batch_id}"
        )

        # ---- fusion-partial state (subj, pred, entity_key, doc) --------
        fstate_root = f"{output_path}/_fstate"
        f_partials = (
            normed.filter(F.col("prob").isNotNull())
            .groupBy("subj", "pred", "entity_key", "doc_id")
            .agg(
                F.sum(log_miss_expr("prob")).alias("_log_miss"),
                F.count("*").alias("n_mentions"),
                F.max("prob").alias("max_prob"),
            )
        )
        prior_f, f_snaps, f_prior = _read_sum_state(
            spark, fstate_root, f_partials, batch_id, fs, _Path
        )
        if prior_f is not None:
            fstate = (
                prior_f.unionByName(f_partials)
                .groupBy("subj", "pred", "entity_key", "doc_id")
                .agg(
                    F.sum("_log_miss").alias("_log_miss"),
                    F.sum("n_mentions").alias("n_mentions"),
                    F.max("max_prob").alias("max_prob"),
                )
            )
        else:
            fstate = f_partials
        fstate = fstate.cache()

        do_compact = (
            compact_every is not None
            and batch_id > 0
            and batch_id % compact_every == 0
        )
        _write_sum_state(
            surfaces if (do_compact and surf_prior) else surf_partials,
            surf_root, batch_id, do_compact and bool(surf_prior),
            surf_snaps, fs, _Path,
        )
        _write_sum_state(
            fstate if (do_compact and f_prior) else f_partials,
            fstate_root, batch_id, do_compact and bool(f_prior),
            f_snaps, fs, _Path,
        )

        # ---- snapshots: apply the CURRENT labeling ---------------------
        lbl = labels.withColumnRenamed("node", "entity_key")
        keyed_surf = surfaces.join(lbl, on="entity_key", how="left").withColumn(
            "canon_key", F.coalesce("component", "entity_key")
        )
        vertices = (
            keyed_surf.groupBy("canon_key")
            .agg(
                F.max_by(
                    F.struct("obj", "pred"), F.struct(F.col("n"), F.col("obj"))
                ).alias("_best"),
                F.sum("n").alias("n_mentions"),
            )
            .select(
                F.md5("canon_key").alias("entity_id"),
                F.col("_best.obj").alias("canonical_text"),
                F.col("_best.pred").alias("type"),
                "n_mentions",
                "canon_key",
            )
        )
        vertices.drop("canon_key").write.mode("overwrite").parquet(
            f"{output_path}/vertices/batch_id={batch_id}"
        )

        keyed_f = fstate.join(lbl, on="entity_key", how="left").withColumn(
            "canon_key", F.coalesce("component", "entity_key")
        )
        fused = (
            keyed_f.groupBy("subj", "pred", "canon_key", "doc_id")
            .agg(
                F.sum("_log_miss").alias("_log_miss"),
                F.sum("n_mentions").alias("n_mentions"),
                F.max("max_prob").alias("max_prob"),
            )
            .groupBy("subj", "pred", "canon_key")
            .agg(
                F.sum("_log_miss").alias("_log_miss"),
                F.sum("n_mentions").alias("n_mentions"),
                # count(doc_id) skips a NULL-doc group — see the
                # stream_fuse_triples finalizer note (ADVICE r7)
                F.count("doc_id").alias("n_docs"),
                F.max("max_prob").alias("max_prob"),
                F.min("doc_id").alias("first_doc"),
            )
        )
        fused.join(
            vertices.select("canon_key", "canonical_text"), on="canon_key"
        ).select(
            "subj",
            "pred",
            F.md5("canon_key").alias("entity_id"),
            "canonical_text",
            fused_prob_expr("_log_miss", "max_prob").alias("fused_prob"),
            "n_mentions",
            "n_docs",
            "max_prob",
            "first_doc",
        ).write.mode("overwrite").parquet(
            f"{output_path}/fused/batch_id={batch_id}"
        )
        surfaces.unpersist()
        fstate.unpersist()

        if emit_delta:
            from ..operators.fusion import kg_diff

            fused_root = f"{output_path}/fused"
            cur = spark.read.parquet(f"{fused_root}/batch_id={batch_id}")
            prior_snaps = [
                bid
                for st in fs.listStatus(_Path(fused_root))
                if (bid := _batch_dir_id(st)) is not None and bid < batch_id
            ]
            if prior_snaps:
                prev = spark.read.parquet(
                    f"{fused_root}/batch_id={max(prior_snaps)}"
                )
            else:
                prev = cur.limit(0)
            # diff on the FACT key (subj, pred, entity_id): a
            # retroactive merge surfaces as its fragment facts removed
            # plus the merged fact added/changed
            kg_diff(
                prev, cur, obj_col="entity_id", tol=0.0
            ).write.mode("overwrite").parquet(
                f"{output_path}/fused_delta/batch_id={batch_id}"
            )
            _prune_batch_dirs(
                fs, _Path, f"{output_path}/fused_delta", batch_id,
                keep_snapshots,
            )

        _prune_batch_dirs(fs, _Path, labels_root, batch_id, keep_snapshots)
        _prune_batch_dirs(
            fs, _Path, f"{output_path}/vertices", batch_id, keep_snapshots
        )
        _prune_batch_dirs(
            fs, _Path, f"{output_path}/fused", batch_id, keep_snapshots
        )

    writer = (
        edges_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
