"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.8); streaming is the new
Spark-native capability for continuously-arriving transcripts:

- ``stream_edges``: incremental triple extraction via ``foreachBatch`` —
  each micro-batch runs the exact batch plan (one code path, no
  batch/stream drift). Caveat: a conversation split across
  micro-batches is assembled per batch — use
  ``assemble_stream_stateful`` upstream when batches can split
  conversations.
- ``assemble_stream_stateful``: custom stateful operator
  (``applyInPandasWithState``) accumulating turns per conv_id in group
  state and emitting the assembled document after a session gap —
  correct cross-batch assembly with out-of-order turns.
- ``windowed_edge_counts``: event-time tumbling window aggregation with
  a watermark for late data — the monitoring/rollup stream.
- ``stream_dedup_exact``, ``stream_line_dedup``,
  ``stream_merge_components``, ``stream_fuse_triples``: the streaming
  faces of the batch dedup, boilerplate, CC and fusion operators.
- ``stream_build_kg``: the COMPOSED streaming KG — all state keyed by
  the stable pre-canonicalization entity_key, the labeling folded
  incrementally, and canonicalization applied only at snapshot time,
  so a late-arriving bridge surface retroactively merges entities and
  re-fuses their facts; snapshots equal batch ``build_kg`` over the
  concatenated edges.

Every ``foreachBatch`` operator keeps its outputs, state and snapshots
in one store, :class:`_BatchDirs`: a ``<root>/batch_id=N`` directory
tree under Structured Streaming's idempotent-sink contract (Armbrust
et al., SIGMOD 2018). foreachBatch is at-least-once on retry, so batch
N only ever OVERWRITES its own directories and only READS
``batch_id < N`` — a replayed micro-batch rewrites what its first
attempt wrote, exactly-once at rest. Compaction writes a full state as
batch N's directory, marks it with a ``_SNAPSHOT`` file as the
replay-idempotent last step (an unmarked directory is never read as a
base), then deletes directories older than the PREVIOUS marker only.
On top of the store sit three shared steps: the sum-state fold
(:func:`_fold_sum_state`, for ``_state``, ``_surfaces`` and
``_fstate``), the label fold (:func:`_fold_labels`, for
``stream_merge_components`` and ``_labels``) and the writer start
(:func:`_start`); the KG snapshot reuses the batch vertex pick
(``plans.graph.pick_vertices``) and fusion finalizer
(``operators.fusion.finalize_fusion``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_triples
from ..schemas import TRANSCRIPTS


class _BatchDirs:
    """The ``<root>/batch_id=N`` directory tree one operator keeps an
    output, a state or its snapshots in. Hadoop FS calls go through one
    driver-side handle."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        )

    def dir(self, batch_id: int) -> str:
        return f"{self.root}/batch_id={batch_id}"

    def _marker(self, batch_id: int):
        return self._Path(f"{self.dir(batch_id)}/_SNAPSHOT")

    def ids(self, below: int, marked: bool = False) -> list[int]:
        """Ids M < ``below`` of the batch_id=M directories (only those
        carrying a ``_SNAPSHOT`` marker if ``marked``); foreign entries
        are ignored."""
        root = self._Path(self.root)
        if not self.fs.exists(root):
            return []
        out = []
        for st in self.fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("batch_id="):
                continue
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < below and (not marked or self.fs.exists(self._marker(bid))):
                out.append(bid)
        return out

    def latest(self, below: int, marked: bool = False) -> int | None:
        return max(self.ids(below, marked), default=None)

    def read(self, schema, lo: int, hi: int) -> DataFrame:
        """Rows of the directories ``lo <= batch_id < hi``: one
        partition-discovery read with an EXPLICIT schema (it must carry
        ``batch_id``). No footer sampling: this batch's own in-flight
        directory may hold a partial file on replay, and partition
        pruning never touches its files."""
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.root)
            .parquet(self.root)
            .filter((F.col("batch_id") >= lo) & (F.col("batch_id") < hi))
            .drop("batch_id")
        )

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(self.dir(batch_id))

    def drop_below(self, below: int) -> None:
        for bid in self.ids(below):
            self.fs.delete(self._Path(self.dir(bid)), True)

    def mark_and_compact(self, batch_id: int) -> None:
        """Mark batch_id's directory a full snapshot (its overwrite
        wiped any marker of an earlier attempt, so re-marking is the
        replay-idempotent last step), then delete the directories older
        than the PREVIOUS marked snapshot only: anything in [prev, N)
        is still needed if THIS batch replays (it reads batch_id < N),
        and everything below prev is contained in prev's snapshot.
        Keying deletion on actual markers (not arithmetic) stays safe
        when ``compact_every`` changes between restarts."""
        self.fs.create(self._marker(batch_id), True).close()
        prev = self.latest(batch_id, marked=True)
        if prev is not None:
            self.drop_below(prev)


def _start(stream: DataFrame, process_batch, checkpoint_path: str,
           available_now: bool):
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _check_state_args(compact_every: int | None = None,
                      keep_snapshots: int = 1) -> None:
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 (or None to disable)")
    if keep_snapshots < 1:
        # replay reads the immediate predecessor: deleting it (0) would
        # let a crash between delete and checkpoint-commit silently
        # RESET the accumulated state to just the replayed batch
        raise ValueError("keep_snapshots must be >= 1")


def _compacts(batch_id: int, compact_every: int | None) -> bool:
    return (
        compact_every is not None
        and batch_id > 0
        and batch_id % compact_every == 0
    )


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


def _fold_sum_state(store: _BatchDirs, partials: DataFrame, keys, merge_aggs,
                    batch_id: int, compact_every: int | None,
                    reuse: bool = False):
    """One batch of a SUM state (``stream_fuse_triples``' ``_state``,
    ``stream_build_kg``'s ``_surfaces`` and ``_fstate``) -> (state,
    prior).

    Unlike a SET state (re-reading a directory a snapshot folded in is
    idempotent), a sum must read the latest MARKED snapshot before
    ``batch_id`` plus only the incremental directories after it
    (residual pre-snapshot directories — deletion lags one marker
    behind — are partition-pruned out). That prior state is merged with
    ``partials`` (union, regroup on ``keys`` with ``merge_aggs``). The
    batch writes its partials, or on a compaction batch the merged
    state as a marked snapshot. The merged state is cached when it is
    consumed twice — on a compaction batch, or when the caller says it
    will ``reuse`` it — and the caller unpersists it. ``prior`` is None
    when no earlier directory exists."""
    from pyspark.sql.types import LongType, StructField, StructType

    state, prior = partials, None
    if store.ids(batch_id):
        # fresh StructType: StructType.add MUTATES in place and
        # DataFrame.schema is cached, so partials.schema.add(...) would
        # graft a phantom batch_id field onto the CALLER's partials
        # frame (ADVICE r7)
        schema = StructType(
            list(partials.schema.fields) + [StructField("batch_id", LongType())]
        )
        prior = store.read(schema, store.latest(batch_id, marked=True) or 0,
                           batch_id)
        state = prior.unionByName(partials).groupBy(*keys).agg(*merge_aggs)
    compact = prior is not None and _compacts(batch_id, compact_every)
    if compact or reuse:
        state = state.cache()
    store.write(state if compact else partials, batch_id)
    if compact:
        store.mark_and_compact(batch_id)
    return state, prior


def _fold_labels(store: _BatchDirs, edges: DataFrame, batch_id: int,
                 node_type: str, keep_snapshots: int, src: str = "src",
                 dst: str = "dst") -> DataFrame:
    """Fold a batch's match edges into the latest (node, component)
    labeling before ``batch_id`` — ``connected_components`` when there
    is none, else ``merge_components``, whose CC iteration runs on the
    batch-bounded contraction graph — and write the full labeling as
    batch_id's snapshot, pruning snapshots more than ``keep_snapshots``
    behind. Returns the written labeling, read back."""
    from ..operators.components import connected_components, merge_components

    schema = f"node {node_type}, component {node_type}"
    prev = store.latest(batch_id)
    if prev is None:
        labels = connected_components(edges, src=src, dst=dst)
    else:
        labels = merge_components(
            store.spark.read.schema(schema).parquet(store.dir(prev)),
            edges, src=src, dst=dst,
        )
    store.write(labels, batch_id)
    store.drop_below(batch_id - keep_snapshots)
    return store.spark.read.schema(schema).parquet(store.dir(batch_id))


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
    """Incremental extraction: micro-batch -> batch pipeline -> append.
    Readers load ``output_path`` and get batch_id via partition
    discovery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _BatchDirs(batch_df.sparkSession, output_path).write(
            extract_triples(batch_df, max_seq_len=max_seq_len), batch_id
        )

    return _start(transcripts_stream, process_batch, checkpoint_path,
                  available_now)


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
    neither double-emits nor anti-joins against its own previous
    attempt.

    Compaction bounds the state listing on long-lived streams: every
    ``compact_every`` batches, the batch writes the FULL seen-hash
    union (everything before it plus its own firsts) as its own marked
    ``batch_id=N`` snapshot (see :meth:`_BatchDirs.mark_and_compact`).
    A SET state may re-read directories a snapshot already folded in,
    so reads ignore the markers. Live directory count stays
    ≤ ~2·compact_every+1.
    """
    _check_state_args(compact_every)

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
        seen_dirs = _BatchDirs(spark, f"{output_path}/_seen")
        seen = None
        if seen_dirs.ids(batch_id):
            seen = seen_dirs.read("_h string, batch_id long", 0, batch_id)
            firsts = firsts.join(seen, on="_h", how="left_anti")
        firsts = firsts.cache()
        _BatchDirs(spark, output_path).write(firsts.drop("_h"), batch_id)
        compact = seen is not None and _compacts(batch_id, compact_every)
        if compact:
            # the full snapshot: union of everything strictly before
            # this batch plus its own firsts (disjoint — firsts was
            # anti-joined — but residual pre-snapshot dirs can overlap
            # the previous snapshot, hence the distinct)
            state = seen.union(firsts.select("_h")).distinct()
        else:
            state = firsts.select("_h")
        seen_dirs.write(state, batch_id)
        firsts.unpersist()
        if compact:
            seen_dirs.mark_and_compact(batch_id)

    return _start(docs_stream, process_batch, checkpoint_path, available_now)


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

    State layout (module store discipline):

    - ``<output>/_df/batch_id=N``: batch N's PARTIAL line dfs (distinct
      docs within the batch; doc ids are assumed unique across batches,
      and in-batch redelivery is collapsed by dropDuplicates).
    - ``<output>/_df_snap/batch_id=N``: every ``compact_every`` batches
      the FULL cumulative df table snapshots here, marked (a
      half-written snapshot from a crash is never picked as a base,
      even if a restart changes ``compact_every`` so the replayed batch
      no longer compacts); then partials at or below the PREVIOUS
      marked snapshot and snapshots before it are deleted. Reads always
      take the latest MARKED snapshot STRICTLY BEFORE the current batch
      plus the partials after it — a replayed batch N still finds
      snapshot(base) + partials(base, N] intact (its own deletions only
      touched ids <= base), and its own snapshot at N is ignored
      (base < N) and rewritten.
    - ``<output>/batch_id=N``: the rewritten documents
      (doc_id, *passengers, text, n_dropped).
    """
    from ..operators.dedup import _line_dedup_apply, _validate_line_dedup_args

    _check_state_args(compact_every)
    # fail BEFORE the stream starts: a passenger column colliding with
    # the fixed output names (doc_id/text/n_dropped) would otherwise
    # surface only inside foreachBatch, killing the query at its first
    # micro-batch after checkpoint state already exists
    _require_columns(docs_stream, {"id_col": id_col, "text_col": text_col})
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
        partial_dirs = _BatchDirs(spark, f"{output_path}/_df")
        snaps = _BatchDirs(spark, f"{output_path}/_df_snap")
        partial_dirs.write(_line_df(batch_df, id_col, text_col), batch_id)
        base = snaps.latest(batch_id, marked=True)
        schema = "_line string, _df long, batch_id long"
        parts = partial_dirs.read(
            schema, base + 1 if base is not None else 0, batch_id + 1
        )
        if base is not None:
            parts = parts.union(snaps.read(schema, base, base + 1))
        cum = parts.groupBy("_line").agg(F.sum("_df").alias("_df"))
        # only the SMALL hot subset materializes per batch; the full
        # cumulative table is evaluated again only on the 1-in-
        # compact_every batches that snapshot it
        out = _line_dedup_apply(
            batch_df, _hot_lines(cum, min_df), id_col=id_col,
            text_col=text_col, keep=passengers,
        )
        _BatchDirs(spark, output_path).write(out, batch_id)
        batch_df.unpersist()
        if _compacts(batch_id, compact_every):
            snaps.write(cum, batch_id)
            snaps.mark_and_compact(batch_id)
            if base is not None:
                partial_dirs.drop_below(base + 1)

    return _start(docs_stream, process_batch, checkpoint_path, available_now)


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
    ``<output_path>/batch_id=N`` (:func:`_fold_labels`). A replayed
    micro-batch folds into the same predecessor (the latest snapshot
    with ``batch_id < N``) and rewrites byte-identical output.
    Snapshots more than ``keep_snapshots`` behind are deleted (only the
    immediate predecessor is ever re-read on replay).

    Final labeling = the max-batch_id snapshot; equality with a batch
    ``connected_components`` over the concatenated edges is pinned in
    test_streaming (and is order-independent, since min-label CC is).
    """
    _check_state_args(keep_snapshots=keep_snapshots)
    # node/component types follow the stream's id columns — a hardcoded
    # string schema would throw on INT64 snapshots. Widened via a
    # schema-only union (src int + dst long ⇒ snapshot written as long,
    # so reading with src's narrower type alone would also throw).
    node_type = (
        edges_stream.select(F.col(src).alias("_n"))
        .union(edges_stream.select(F.col(dst).alias("_n")))
        .schema["_n"].dataType.simpleString()
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _fold_labels(
            _BatchDirs(batch_df.sparkSession, output_path), batch_df,
            batch_id, node_type, keep_snapshots, src=src, dst=dst,
        )

    return _start(edges_stream, process_batch, checkpoint_path, available_now)


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
       the result) in the ``_state`` sum state (:func:`_fold_sum_state`);
    3. finalizes the fused table via the SAME shared expressions the
       batch operator uses (``operators.fusion.finalize_fusion``).

    ``fused/`` snapshots older than ``keep_snapshots`` are pruned
    (derived data; replay needs only ``_state``).

    Scale shape: per-batch cost is one batch-bounded aggregation plus
    one merge shuffle over |distinct (fact, doc)| — orders smaller
    than the accumulated mention count for any corpus with repeated
    facts; nothing ever rescans prior batches' raw mentions.

    ``ts_col``: optional mention-timestamp column, mirroring the batch
    face — first_seen/last_seen ride the partials as combinable
    min/max, no extra state or pass.
    """
    from ..operators.fusion import (
        finalize_fusion, fusion_partials, partial_merge_aggs,
    )

    _check_state_args(compact_every, keep_snapshots)
    _require_columns(
        triples_stream,
        {"subj_col": subj_col, "pred_col": pred_col, "obj_col": obj_col,
         "prob_col": prob_col, "doc_col": doc_col, "ts_col": ts_col},
    )
    fact = [subj_col, pred_col, obj_col]
    temporal = ts_col is not None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # consumed twice on every batch (state write + fused snapshot):
        # without the cache the batch-bounded aggregation AND the
        # source-file read execute twice per batch, forever
        partials = fusion_partials(
            batch_df, [*fact, doc_col], prob_col, eps, ts_col
        ).cache()
        state, _ = _fold_sum_state(
            _BatchDirs(spark, f"{output_path}/_state"), partials,
            [*fact, doc_col], partial_merge_aggs(temporal), batch_id,
            compact_every,
        )
        fused = _BatchDirs(spark, f"{output_path}/fused")
        fused.write(finalize_fusion(state, fact, doc_col, temporal), batch_id)
        state.unpersist()
        partials.unpersist()
        fused.drop_below(batch_id - keep_snapshots)

    return _start(triples_stream, process_batch, checkpoint_path,
                  available_now)


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
      entity_key/obj_norm — a sum state (:func:`_fold_sum_state`).
    - ``_fstate/batch_id=N``: per (subj, pred, entity_key, doc) fusion
      partials (log-miss sum, mention count, max prob) — ditto.
    - ``_labels/batch_id=N``: the (node, component) labeling over
      linker pairs, folded incrementally (:func:`_fold_labels`): each
      batch computes banded MinHash-LSH candidates for its NEW raw
      surfaces against the accumulated surface set (new×old meet in
      shared (pred, band) buckets, new×new within the batch;
      exact-Jaccard verified — the same ``plans.graph.banded_surfaces``
      projection as the batch linker, so the accumulated pair set
      equals the batch pair set) and folds them via
      ``merge_components``. Full snapshot per batch, pruned.

    ``link_max_bucket`` caps degenerate (pred, band) buckets like the
    batch linker (thousands of identical junk surfaces would make the
    candidate join quadratic); ``None`` = explicit opt-out. Streaming
    cap semantics are necessarily ORDER-DEPENDENT: pairs a bucket
    produced while still under the cap are already folded into the
    labeling and cannot be retracted when the bucket later crosses it
    (batch drops ALL of an over-cap bucket's pairs), so snapshot ==
    batch parity is exact only while every bucket stays under the cap
    — the regime the cap exists to preserve.

    Snapshot time: canon_key = coalesce(label, entity_key)
    (``plans.graph.canon_keys``); vertices = surface counts regrouped
    under canon_key by the batch vertex pick
    (``plans.graph.pick_vertices``); fused = fusion partials regrouped
    per (subj, pred, canon_key, doc) then finalized by
    ``operators.fusion.finalize_fusion`` for exact n_docs — a batch-9
    merge silently re-fuses batch-1 facts because the regroup, not the
    state, carries the canonicalization.

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
    from ..operators.fusion import (
        finalize_fusion, fusion_partials, kg_diff, partial_merge_aggs,
    )
    from ..operators.linking import jaccard
    from ..plans.graph import (
        banded_surfaces, canon_keys, normalize_objects, pick_vertices,
    )

    _check_state_args(compact_every, keep_snapshots)
    _require_columns(
        edges_stream,
        {"subj": "subj", "pred": "pred", "obj": "obj", "prob": "prob",
         "doc_id": "doc_id"},
    )
    entity_doc = ["subj", "pred", "entity_key", "doc_id"]
    fact = ["subj", "pred", "canon_key"]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        normed = normalize_objects(batch_df).localCheckpoint(eager=False)

        # ---- surface-count state (pred, obj): sums ---------------------
        surf_partials = normed.groupBy("pred", "obj").agg(
            F.first("entity_key").alias("entity_key"),
            F.first("obj_norm").alias("obj_norm"),
            F.count("*").alias("n"),
        )
        surfaces, prior_surf = _fold_sum_state(
            _BatchDirs(spark, f"{output_path}/_surfaces"), surf_partials,
            ["pred", "obj"],
            [
                F.first("entity_key").alias("entity_key"),
                F.first("obj_norm").alias("obj_norm"),
                F.sum("n").alias("n"),
            ],
            batch_id, compact_every, reuse=True,
        )

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
        labels = _fold_labels(
            _BatchDirs(spark, f"{output_path}/_labels"), pairs, batch_id,
            "string", keep_snapshots,
        )

        # ---- fusion-partial state (subj, pred, entity_key, doc) --------
        fstate, _ = _fold_sum_state(
            _BatchDirs(spark, f"{output_path}/_fstate"),
            fusion_partials(normed, entity_doc), entity_doc,
            partial_merge_aggs(), batch_id, compact_every,
        )

        # ---- snapshots: apply the CURRENT labeling ---------------------
        vertices = pick_vertices(canon_keys(surfaces, labels))
        vertex_dirs = _BatchDirs(spark, f"{output_path}/vertices")
        vertex_dirs.write(vertices.drop("canon_key"), batch_id)
        fused = finalize_fusion(
            canon_keys(fstate, labels)
            .groupBy(*fact, "doc_id")
            .agg(*partial_merge_aggs()),
            fact,
        )
        fused_dirs = _BatchDirs(spark, f"{output_path}/fused")
        fused_dirs.write(
            fused.join(
                vertices.select("canon_key", "canonical_text"), on="canon_key"
            ).select(
                "subj",
                "pred",
                F.md5("canon_key").alias("entity_id"),
                "canonical_text",
                "fused_prob",
                "n_mentions",
                "n_docs",
                "max_prob",
                "first_doc",
            ),
            batch_id,
        )
        surfaces.unpersist()
        fstate.unpersist()

        if emit_delta:
            cur = spark.read.parquet(fused_dirs.dir(batch_id))
            prev = fused_dirs.latest(batch_id)
            prev = (
                cur.limit(0) if prev is None
                else spark.read.parquet(fused_dirs.dir(prev))
            )
            delta_dirs = _BatchDirs(spark, f"{output_path}/fused_delta")
            # diff on the FACT key (subj, pred, entity_id): a
            # retroactive merge surfaces as its fragment facts removed
            # plus the merged fact added/changed
            delta_dirs.write(
                kg_diff(prev, cur, obj_col="entity_id", tol=0.0), batch_id
            )
            delta_dirs.drop_below(batch_id - keep_snapshots)
        vertex_dirs.drop_below(batch_id - keep_snapshots)
        fused_dirs.drop_below(batch_id - keep_snapshots)

    return _start(edges_stream, process_batch, checkpoint_path, available_now)
