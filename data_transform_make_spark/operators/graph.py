"""Graph operators for dedup clustering: connected components over a
near-duplicate pair list (SURVEY.md §2.10 — the step after pair
generation: a curation pipeline keeps one document per *cluster*, and
pairs alone under-merge whenever duplicates chain A~B~C without A~C).

Algorithm: iterative min-label propagation with pointer jumping, the
MapReduce-style formulation of PRAM connected components (publicly
described in Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — reimplemented here from the paper's idea, not from
any code). Each round:

  1. neighbor-min: every vertex takes the min of its own label and its
     neighbors' labels — one groupBy(min) shuffle keyed on the vertex id;
  2. pointer jump: every vertex re-reads the *current* label of the
     vertex its label points at (label <- label(label)) — one id-keyed
     join; this halves label-chain depth, so convergence is O(log
     diameter) rounds instead of O(diameter) for path-shaped components.

Scale notes (the 100 TB design point):
  * Per round: one shuffle for the neighbor min (map-side combined — a
    celebrity vertex with millions of edges partial-aggregates per
    partition before the exchange, so key skew does not concentrate
    rows), and two id-keyed hash joins. No driver-side graph state; the
    only driver actions are the per-round convergence counts.
  * A checkpoint each round cuts lineage — without it round k re-derives
    rounds 1..k-1 and the DAG grows quadratically. The session picks the
    flavor (operators/checkpointing.py): reliable ``DataFrame.checkpoint``
    when it has a checkpoint dir, surviving executor loss mid-computation,
    else ``localCheckpoint``.
  * Near-dup components are dense (templated text collides everywhere),
    so diameters are tiny and rounds ~2-3 in practice; ``max_iter``
    bounds the pathological chain, and running out of rounds raises
    instead of returning labels that have not converged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpointing import lineage_cut


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int | None = 100_000,
) -> DataFrame:
    """Assign every vertex in the pair graph its component's min vertex id.

    Input: an undirected edge list (one row per pair, either orientation).
    Output: ``(id, cluster_id)`` — one row per distinct vertex appearing in
    any pair; ``cluster_id`` is the smallest vertex id reachable from it.
    Vertices with no edges are by definition their own singleton cluster
    and are not emitted (callers left-join and ``coalesce(cluster_id, id)``).

    Deterministic: the fixpoint (min reachable id) does not depend on
    iteration order, partitioning, or the number of rounds taken. The
    distributed path raises ``RuntimeError`` when its last allowed round
    (``max_iter``) still lowers labels; the check reuses that round's
    convergence count, so it adds no job.

    Each distributed round cuts lineage eagerly under the session's
    policy (:func:`..checkpointing.lineage_cut`, read once per call):
    reliable ``DataFrame.checkpoint`` when the session has a checkpoint
    dir (set ``spark.checkpoint.dir`` on a cluster), surviving executor
    loss at the cost of one distributed write per round; otherwise
    ``localCheckpoint``, whose blocks live on executors, so an executor
    loss past round 1 kills the job. The session's checkpoint dir is
    read, never set.

    ``small_graph_threshold``: near-dup pair graphs are usually TINY
    relative to the corpus that produced them (a curated corpus yields
    few pairs; a capped production pass bounds them by construction).
    When twice the raw pair count is at most this many rows (r20: the
    gate used to count the doubled+DISTINCT edge list, paying a full 2×
    |pairs| union+distinct exchange before the first decision — a
    shuffle the driver path then threw away, since union-find is
    orientation- and duplicate-insensitive; ``2 × raw >= deduplicated
    doubled``, so the new gate is conservative — nothing that would
    have gone distributed can now collect), solve with union-find ON
    THE DRIVER — one bounded collect (the ``hot_keys``/broadcast-
    threshold class of driver action: 50k raw pairs ≈ a few MB)
    replacing 3+ distributed jobs per round plus a checkpoint per
    round. Above the threshold — or with ``None``/``0`` to force it —
    the distributed min-label/pointer-jump fixpoint runs unchanged
    (the doubled+distinct edge list is built off the persisted raw
    pairs only on that path), so scale safety is never lost: the fast
    path is an optimization gate, not a capacity limit. Both paths
    produce the identical deterministic output (min reachable id per
    vertex).
    """
    spark = pairs.sparkSession
    e = edges = None
    try:
        # an edge with a NULL endpoint carries no adjacency information —
        # dropped up front so BOTH paths see the same graph (the driver
        # union-find would otherwise crash comparing None with ints, while
        # joins silently never match NULL keys: a crash-vs-result divergence
        # decided by nothing but edge count)
        e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
            F.col("u").isNotNull() & F.col("v").isNotNull()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # ONE bounded collect of the RAW pair list gates everything (r21;
        # r20 had replaced the doubled+distinct count with a raw count —
        # this folds the remaining count job and the fast path's collect
        # job into a single `limit(cap).collect()`): `cap` is exactly one
        # more row than the fast path may hold (2·n_raw ≤ threshold ⟺
        # n_raw ≤ threshold//2), so a result SHORTER than cap IS the
        # complete pair list — gate decision and fast-path data in one
        # job — while a truncated result proves the graph exceeds the
        # gate and is discarded (bounded driver memory: ≤ cap ≈
        # threshold/2 rows of two ids, the hot_keys/broadcast class of
        # driver action). Union-find is orientation-, duplicate- AND
        # order-insensitive, so an arbitrary-order complete list is fine.
        # Gate arithmetic is unchanged from r20 (conservative vs the
        # doubled+distinct gate: 2×raw ≥ dedup-doubled). The guards it
        # serves are unchanged too: the empty-graph early-out (a
        # well-curated or capped corpus routinely yields ZERO pairs —
        # without the guard that still costs a full label-init + one
        # round + convergence count, ~0.5 s of pure job scheduling) and
        # the small-graph driver fast path. Measured interleaved
        # (isolated gate, d2 pair frame): 2.393 → 1.910 s min at sf0.1,
        # 7.796 → 7.173 at sf1.0. The distributed path materializes any
        # partitions the bounded collect did not reach through the same
        # persist, so pair generation still runs at most once per
        # partition.
        out_schema = e.select(
            F.col("u").alias("id"), F.col("u").alias("cluster_id")
        ).schema
        cap = (small_graph_threshold // 2 + 1) if small_graph_threshold else 1
        head = e.limit(cap).collect()
        if not head:
            e.unpersist()
            # a LOCAL empty frame, not limit(0) over the edge lineage — the
            # latter would re-run pair generation for every consumer
            return pairs.sparkSession.createDataFrame([], out_schema)
        if small_graph_threshold and len(head) < cap:
            # driver union-find with path compression; output = min vertex id
            # per component, identical to the distributed fixpoint
            parent: dict = {}

            def _find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for row in head:
                a, b = row[0], row[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    parent[ra] = rb
            e.unpersist()
            comp_min: dict = {}
            roots = {v: _find(v) for v in parent}
            for v, r in roots.items():
                if r not in comp_min or v < comp_min[r]:
                    comp_min[r] = v
            return spark.createDataFrame(
                [(v, comp_min[r]) for v, r in roots.items()], out_schema
            )
        # Distributed path: build the doubled + deduplicated edge list the
        # fixpoint iterates over — off the PERSISTED raw pairs, so pair
        # generation is not re-run. The raw persist is released once the
        # doubled frame is materialized by the label init below.
        edges = (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Seeded init: label(u) = min(u, min neighbor) — the neighbor-min half
        # of round 1 folded into the vertex-set construction. Costs the same
        # single shuffle as the old distinct-vertices + identity init (groupBy
        # on the doubled edge list instead of distinct on it), and dense
        # near-dup components (the common case) then converge one full round
        # — three jobs and a checkpoint — earlier. The fixpoint is unchanged:
        # labels only ever decrease toward the component min.
        labels = (
            edges.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select(
                F.col("u").alias("id"),
                F.least(F.col("u"), F.col("__mn")).alias("label"),
            )
        )
        cut = lineage_cut(spark)
        labels = cut(labels)
        # the label init materialized `edges` through the raw-pair cache;
        # the raw frame has no further consumer
        e.unpersist()

        for rnd in range(max_iter):
            # 1. neighbor-min: min label over each vertex's neighborhood.
            nbr_min = (
                edges.join(labels, edges["v"] == labels["id"])
                .groupBy("u")
                .agg(F.min("label").alias("__nmin"))
            )
            stepped = (
                labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
                .select(
                    labels["id"],
                    labels["label"].alias("__old"),
                    F.least(
                        labels["label"], F.coalesce(F.col("__nmin"), labels["label"])
                    ).alias("label"),
                )
            )
            # 2. pointer jump: label <- current label of the label vertex.
            # Labels are always vertex ids (mins over vertex ids), and label
            # values only decrease, so the lookup is total and monotone.
            lut = stepped.select(
                F.col("id").alias("label"), F.col("label").alias("__jump")
            )
            jumped = stepped.join(lut, "label", "left").select(
                "id", "__old", F.coalesce("__jump", "label").alias("label")
            )
            jumped = cut(jumped)
            labels = jumped.drop("__old")
            # Convergence check on even rounds only (and on the last): the
            # fixpoint is stable, so overshooting by one cheap round beats
            # paying a count job per round. Round 0 keeps its check — dense
            # near-dup components (the common case, helped by the seeded init)
            # converge there and must not pay an extra round; long chains skip
            # every other count. Checking a single round's delta is
            # sufficient: one full round with zero label decreases IS the
            # fixpoint.
            if rnd % 2 == 0 or rnd == max_iter - 1:
                changed = jumped.filter(F.col("label") < F.col("__old")).count()
                if changed == 0:
                    break
                if rnd == max_iter - 1:
                    # labels still falling after the last allowed round are
                    # not the component mins: fail rather than return them
                    raise RuntimeError(
                        f"connected_components did not converge in "
                        f"max_iter={max_iter} rounds: the last round still "
                        f"lowered {changed} labels"
                    )

        return labels.select("id", F.col("label").alias("cluster_id"))
    finally:
        # release both caches here rather than only on the success paths:
        # an exception between persist and the success-path unpersist
        # (during collect or a fixpoint round) would otherwise leak the
        # cached frame for the session (advice, round 20). unpersist is
        # idempotent, so the early-out paths above may also have released
        # already.
        for _df in (e, edges):
            if _df is not None:
                _df.unpersist()
