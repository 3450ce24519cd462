"""Connected components — canonicalization over the entity match graph.

Every call first builds the symmetric edge table from ONE read of its
input (each row exploded into both directions, self-loops and NULL
endpoints dropped, deduplicated) and materializes it, observing its
row count on that same job. The count picks one of two legs:

- driver leg (at most ``_LOCAL_CC_LIMIT`` symmetric rows): the
  undirected half is collected once and labeled by a union-find on the
  driver (:func:`_local_components`) — exact, no loop, no per-round
  jobs. The graphs this module's callers build are almost all here:
  entity-match cliques, dedup near-dup clusters (the ``corpus_curate``
  graph is ~15k symmetric rows, yet its long near-dup runs needed 16
  propagation rounds) and ``merge_components``' contraction folds.
- distributed leg (above the limit): pure-DataFrame iterative
  min-label propagation (no GraphFrames) — each round every node adopts
  the minimum component id in its closed neighborhood, so it converges
  in O(graph diameter) rounds (O(log diameter) with ``pointer_jump``).
  Lineage is truncated each round so the plan doesn't grow unboundedly
  (SURVEY.md §4 item 3) — ``localCheckpoint`` by default, reliable
  ``checkpoint()`` into the caller's checkpoint dir with
  ``durable=True`` for fault-tolerant cluster runs.

Both legs label a component by its minimum node id and emit the same
``(node, component)`` rows. Neither leg writes a session conf or any
SparkContext state: the result is a function of the inputs alone. The
loop sizes its own shuffles from the symmetric edge count with
frame-local ``repartition`` calls (``_LOOP_ROWS_PER_PARTITION``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# Symmetric edge rows (twice the undirected edges) at or under which a
# graph is labeled on the driver; merge_components' contraction probe
# collects up to this many edge rows too. It is a driver-memory budget,
# not a speed crossover: the driver leg won at every size measured
# (`bench.py --cc-legs`, chains of 8, local[4]: 1.24 vs 3.69 s at 35k
# rows, 1.96 vs 4.35 s at 175k, 5.22 vs 8.7 s at 700k). At the limit
# the driver holds 100k collected Rows, a 200k-entry union-find dict
# and the 200k label tuples it hands back — a few tens of MB of Python
# objects — and the 500k-node q10_cc_full chain graph (~885k rows)
# stays distributed.
_LOCAL_CC_LIMIT = 200_000

# Node count at or under which the distributed leg's per-round label
# join carries an ``F.broadcast`` hint on the LABEL side: the edge table
# is then never exchanged (the round's only shuffle is the map-combined
# min aggregation, O(|V|) rows, not O(|E|)). This is the dense-graph
# win: a near-dup pair graph of 584k edges over 2.7k nodes spent most of
# its 4.4s re-exchanging sym every round for a label table that fits in
# one broadcast (r8 q8_dataprep audit: 4.0 -> 3.1s min-of-4, identical
# labels). The limit is deliberately LOW: every round pays a fresh
# driver collect + broadcast of the label table, and the r8 A/B
# measured the flip side — hinting a 500k-node chain graph REGRESSED
# q10-shape CC 6.1 -> 9.9s — so the hint is only right when the label
# table is small in absolute terms, not merely broadcastable. Past the
# limit the join plans unhinted (unbounded in |V|). The decision is
# explicit, from the node count the label-materialization job observes:
# the planner cannot make it, because a checkpoint's statistics are its
# origin plan's size estimate, not its materialized size (over a
# 1,000-row range input, the 100-node label table reports the same
# 12,000 bytes as the 200-row edge table it came from).
_BROADCAST_LABEL_LIMIT = 100_000

# Symmetric edge rows per partition of the distributed leg's unhinted
# rounds: their shuffles run on ceil(|sym| / this) partitions, clamped
# to the session's shuffle.partitions, set frame-locally with
# ``repartition`` (never a session conf; AQE does not coalesce a
# fixed-count shuffle). The rounds are scheduling-bound: q10_cc_full
# (885k rows, so 7 partitions) at local[32] with 32 session partitions
# ran 16.18s median on the session's 32 vs 11.05s on the derived 7
# (alternating pairs on 4 cores; at local[4] the two were even;
# BASELINE.md "No shared Spark state at 32 shuffle partitions"). The
# r8 sweep put the optimum near 1e5 rows per task. On big graphs the
# clamp saturates to the session value.
_LOOP_ROWS_PER_PARTITION = 128 * 1024


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    durable: bool = False,
    pointer_jump: bool = False,
) -> DataFrame:
    """edges(src, dst) undirected -> (node, component) with component =
    min node id of the component (lexicographic for strings). Rows with
    a NULL endpoint and self-loops carry no connectivity: their nodes
    appear only through other edges.

    The symmetric edge count picks the leg (module docstring): at or
    under ``_LOCAL_CC_LIMIT`` rows the driver leg labels the graph
    exactly and ``max_iter``/``pointer_jump`` are moot. ``max_iter``
    bounds the distributed leg's rounds; if they run out while labels
    still change, the unconverged labels are returned with a
    ``RuntimeWarning`` naming the rounds run and the last round's
    changed count.

    ``durable=False`` truncates lineage with ``localCheckpoint`` —
    fastest, but the blocks live on executors and die with them.
    ``durable=True`` uses reliable ``checkpoint()`` into the checkpoint
    dir the caller set on the SparkContext (shared storage on a real
    cluster), so a long-running canonicalization survives executor
    loss. It raises ``ValueError`` when no checkpoint dir is set, on
    every master: the function never picks or sets one itself, and the
    files it writes there are the caller's to keep or remove.
    On ``local[N]`` the executors are the driver process, so durable
    adds no fault tolerance over the default.
    """
    spark = edges.sparkSession
    if durable and spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "durable=True requires a checkpoint dir on the SparkContext "
            "(a shared fs path on a cluster); set one first"
        )

    def cut(df: DataFrame) -> DataFrame:
        return df.checkpoint() if durable else df.localCheckpoint()

    # row counts for the leg choice and the broadcast decision ride the
    # cut jobs as Observation metrics — zero extra actions (a separate
    # count per decision measurably taxed tiny-graph callers like
    # build_graph's entity CC, r8)
    sym_obs = Observation()
    # one read of `edges`: every row emits both directions, so the
    # upstream pair pipeline (MinHash buckets in dedup_pipeline, the
    # banded linker in build_graph) runs once — a union of two selects
    # plans that whole subtree twice
    both = F.explode(F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    ))
    sym = cut(
        edges.select(both.alias("_e"))
        .select("_e.a", "_e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(sym_obs, F.count(F.lit(1)).alias("n"))
    )

    if sym_obs.get["n"] <= _LOCAL_CC_LIMIT:
        # driver leg: the a < b half of the symmetric table is the
        # undirected edge set; one collect off the checkpoint blocks and
        # a union-find replace every per-round job
        return _driver_labels(
            spark,
            sym.filter(F.col("a") < F.col("b")).collect(),
            sym.schema["a"].dataType,
        )

    lab_obs = Observation()
    labels = cut(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .observe(lab_obs, F.count(F.lit(1)).alias("n"))
    )
    # the node set is loop-invariant, so one metric decides the hint for
    # every round (see _BROADCAST_LABEL_LIMIT)
    bcast_labels = lab_obs.get["n"] <= _BROADCAST_LABEL_LIMIT
    loop_parts = max(1, min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-sym_obs.get["n"] // _LOOP_ROWS_PER_PARTITION),
    ))

    def hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_labels else df

    def spread(df: DataFrame, key: str) -> DataFrame:
        # an unhinted round's shuffle on key, with the loop's derived
        # partition count (see _LOOP_ROWS_PER_PARTITION); a hinted
        # round shuffles only the map-combined O(|V|) aggregation
        return df if bcast_labels else df.repartition(loop_parts, key)

    changed = 0
    for _round in range(max_iter):
        # neighbor labels: for edge (a,b), b hears a's component
        msgs = spread(sym, "a").join(
            hint(spread(labels, "node")), sym["a"] == labels["node"]
        ).select(
            F.col("b").alias("node"),
            F.col("component"),
            F.lit(False).alias("_old"),
        )
        # the node's previous label rides through the SAME shuffle as
        # the min-aggregation (`_prev` = the one tagged-old row per
        # node), so the convergence probe below is a filter over the
        # materialized blocks instead of a per-round new-vs-old labels
        # JOIN (r7: that join was ~2s/round of q10's wall at 500k nodes).
        propagated = (
            spread(labels.select(
                "node", "component", F.lit(True).alias("_old")
            ).union(msgs), "node")
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_old"), F.col("component"))).alias(
                    "_prev"
                ),
            )
        )
        # pointer jumping (OPT-IN): a node's label is itself a node
        # whose own label may be smaller — follow one hop
        # (label-of-label), so labels travel ~2^k hops after k rounds
        # instead of k, turning O(diameter) rounds into O(log diameter)
        # on DEEP graphs (measured ~20% wall win on the 500k-node chain
        # bench fixture, q10_cc_full). Default OFF: graphs that reach
        # this leg are past _LOCAL_CC_LIMIT, and for a shallow one
        # (entity-match cliques) the extra full-label-set join per round
        # is overhead. Turn it on when the edge set can chain
        # (path-shaped graphs, transitive near-dup runs).
        if pointer_jump:
            hop = propagated.select(
                F.col("node").alias("_c"), F.col("component").alias("_cc")
            )
            propagated = spread(propagated, "component").join(
                hint(spread(hop, "_c")),
                propagated["component"] == hop["_c"],
                "left",
            ).select(
                "node",
                F.coalesce("_cc", "component").alias("component"),
                "_prev",
            )
        # convergence probe as an Observation metric on the SAME job
        # that materializes the round's checkpoint — the pre-r8 shape
        # paid a separate (cheap but scheduler-round-trip) count job per
        # round over the materialized blocks
        obs = Observation()
        new_labels = cut(
            propagated.observe(
                obs,
                F.sum(
                    F.when(F.col("component") != F.col("_prev"), 1)
                ).alias("_changed"),
            )
        )
        changed = obs.get["_changed"] or 0
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    if changed:
        warnings.warn(
            f"connected_components: {max_iter} rounds ran and {changed} "
            "labels still changed in the last one; the labels are not "
            "converged (raise max_iter or set pointer_jump=True)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _local_components(edge_rows) -> list:
    """Driver-side union-find over an edge list of at most
    ``_LOCAL_CC_LIMIT`` rows (the driver leg of
    :func:`connected_components`, a small merge fold), components
    labeled by min member id — byte-for-byte the labeling the
    distributed leg produces on the same edges. Invariant: a tree's
    root is always the minimum element of its component (union parents
    the smaller root), so ``find(n)`` is the min member. Self-loop rows
    are skipped entirely, and loop-only nodes are never emitted —
    matching the distributed leg's ``a != b`` edge filter. Python's
    ``<`` on str compares
    code points, which equals Spark's default UTF8-binary ordering
    (UTF-8 byte order preserves code-point order), so string component
    ids agree with ``F.min`` too."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a == b:
            continue
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return [(n, find(n)) for n in parent]


def _driver_labels(spark, edge_rows, id_type,
                   names=("node", "component")) -> DataFrame:
    """:func:`_local_components` of collected edge rows as a two-column
    frame of the id type (the schema the distributed leg produces).

    Built with :func:`session.local_frame`, so it plans as a
    ``LocalRelation``. A frame built from the row list is a pickled
    ``LogicalRDD``, and the job that reads the labels then starts
    Python workers to unpickle them: a traced ``kg_resume`` job spent
    0.50 s in CC that way and 0.21 s with the local frame, which also
    lets a small label table broadcast into its joins (4 cores,
    BASELINE.md "Driver-side frames from Arrow tables")."""
    schema = T.StructType([T.StructField(n, id_type, True) for n in names])
    return local_frame(spark, _local_components(edge_rows), schema)


def merge_components(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Incremental connected components: fold a batch of new edges into a
    converged (node, component) labeling WITHOUT re-running CC over the
    full graph — the pattern a 10^12-turn KG needs, where each ingest
    batch touches a vanishing fraction of the accumulated entity graph.

    Standard contraction argument: components of (old graph ∪ new edges)
    equal components of the CONTRACTED graph whose nodes are the old
    component ids plus any brand-new nodes, with one edge per new edge
    (endpoints mapped through their old labels). So the expensive
    iteration runs only on the contraction graph — bounded by the new
    batch size, not the accumulated graph — and the result joins back as
    a relabel map. Component ids stay "min member id" because the min
    over a merged component equals the min over its old component ids
    (each of which is already the min of its members).

    Equivalence with a full recompute over the union graph is
    pytest-pinned (random planted graphs) and DuckDB-oracled.

    Small folds stay on the driver: the contraction graph is bounded
    by the NEW BATCH, not the accumulated graph — at ingest cadence
    usually a few thousand edges, where the distributed iteration's
    per-round scheduler round-trips dominate wall time. The fold probes
    it with a single ``limit(_LOCAL_CC_LIMIT + 1).collect()`` (the
    driver-memory budget :func:`connected_components` uses for its own
    driver leg): if the probe comes back short, the collected rows are
    labeled by :func:`_local_components` and the tiny relabel map is
    broadcast back — one action, identical labeling (parity
    pytest-pinned). A full probe means a genuinely large batch, and
    ``connected_components`` runs on the contraction graph instead."""
    # self-loops carry no connectivity and would otherwise surface their
    # node as a spurious singleton (connected_components never emits
    # loop-only nodes — keep the same contract)
    new_edges = new_edges.filter(F.col(src) != F.col(dst))
    e = new_edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    s_lab = prev_labels.select(
        F.col("node").alias("_s"), F.col("component").alias("_cs")
    )
    d_lab = prev_labels.select(
        F.col("node").alias("_d"), F.col("component").alias("_cd")
    )
    contracted = (
        e.join(s_lab, on="_s", how="left")
        .join(d_lab, on="_d", how="left")
        .select(
            F.coalesce("_cs", "_s").alias("src"),
            F.coalesce("_cd", "_d").alias("dst"),
        )
    )
    probe = contracted.limit(_LOCAL_CC_LIMIT + 1).collect()
    local_fold = len(probe) <= _LOCAL_CC_LIMIT
    if local_fold:
        relabel = F.broadcast(_driver_labels(
            prev_labels.sparkSession, probe, contracted.schema["src"].dataType,
            ("_key", "_new"),
        ))
    else:
        # probe came back full — large batch (contracted recomputes its
        # two label joins once more; negligible next to the labeling)
        relabel = connected_components(contracted, max_iter=max_iter).select(
            F.col("node").alias("_key"), F.col("component").alias("_new")
        )

    # old nodes: relabel through their component id (untouched components
    # are absent from the map -> keep their label)
    relabeled_old = (
        prev_labels.join(
            relabel, prev_labels["component"] == relabel["_key"], "left"
        )
        .select(
            "node", F.coalesce("_new", "component").alias("component")
        )
    )
    # brand-new nodes: endpoints of new edges never seen before
    cand = (
        new_edges.select(F.col(src).alias("node"))
        .union(new_edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if local_fold:
        # small-batch shape: the naive left_anti below must SHUFFLE all
        # of prev_labels (anti joins only broadcast their right side,
        # and prev_labels is the big accumulated graph) — at ingest
        # cadence that shuffle IS the fold cost. Flip it: broadcast the
        # batch-bounded candidate set into one shuffle-free scan of
        # prev_labels to find which candidates are old, then anti-join
        # two tiny frames. prev_labels is scanned, never exchanged.
        seen = prev_labels.select("node").join(F.broadcast(cand), on="node")
        new_nodes = cand.join(F.broadcast(seen), on="node", how="left_anti")
    else:
        # big-batch fallback: cand may exceed the broadcast budget, so
        # pay the classic anti join (both sides exchange on node) —
        # amortized by the large batch that forced this path.
        new_nodes = cand.join(
            prev_labels.select("node"), on="node", how="left_anti"
        )
    labeled_new = (
        new_nodes.join(relabel, new_nodes["node"] == relabel["_key"], "left")
        .select("node", F.coalesce("_new", "node").alias("component"))
    )
    return relabeled_old.unionByName(labeled_new)
