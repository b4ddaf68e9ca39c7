"""Structured Streaming pipelines (SURVEY.md §2.8, M4).

The reference is a degenerate streaming system — one webhook per trigger,
state externalized to Kintone, no watermarks, no idempotency (a retried
webhook double-decrements, makeRouter.js:86 scopes dedup to one request).
The engine re-expresses it with real streaming semantics:

  * micro-batch triggers (``availableNow`` here; processingTime in prod)
  * event-time watermarks + tumbling windows over the ``events`` table
  * ``dropDuplicatesWithinWatermark`` for cross-batch idempotency — the
    upgrade the reference lacks
  * ``foreachBatch`` applying the §3.1 order pipeline per micro-batch (the
    MERGE-per-batch execution model; with Delta this is an ACID MERGE)

All helpers run the query to completion synchronously (memory sink +
``processAllAvailable``) so batch oracles can check the results.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """events.parquet as an unbounded source (schema from the batch read;
    the nanos ts column is normalized identically).

    ``max_files_per_trigger`` caps files per micro-batch (availableNow
    honors it and splits the catch-up into multiple batches, files taken
    in modification-time order) — the r15 streaming hostile wave uses it
    to replay a controlled arrival ORDER (late rows, straddling
    duplicates, an all-dead-letter batch) through the shipped pipeline
    bodies; production runs leave it unset.
    """
    # pin conf (nanosAsLong etc.) by going through the batch loader once
    load_table(spark, sf_dir, "events")
    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    import os

    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        # a Spark-written DATASET directory loads directly (the hostile
        # and split-layout fixtures; r14 — the glob form below matches
        # leaf FILES only and would silently stream zero rows here)
        stream = reader.load(path)
    else:
        # a single FILE needs the glob: the file stream source insists
        # its base path is a directory
        stream = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require the session-TZ TIMESTAMP type; session TZ is
        # pinned UTC so the cast preserves the wall-clock micros
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return result.sparkSession.table(name)


def _run_to_memory_checkpointed(result: DataFrame, mode: str, checkpoint: str) -> DataFrame:
    """Like ``_run_to_memory`` but on a DURABLE checkpoint, so a later
    invocation with the same ``checkpoint`` RESUMES the query from its
    state store instead of starting fresh — the restart-mid-wave harness
    (r15 verdict item 4; tools/streaming_hostile_sim.py).

    Complete mode uses the memory sink directly: Spark permits checkpoint
    recovery there because the full table is recomputed from restored
    state each trigger. Update/append mode's memory sink is NOT
    recovery-capable (Spark refuses the restart), so both route through
    the same emulation of the append-per-trigger content shape — a
    recovery-capable ``foreachBatch`` parquet append
    at ``<checkpoint>_emit``: the returned frame reads the accumulated
    emissions across ALL runs sharing the checkpoint — one row per (key,
    batch) in update mode, one row per emitted match in append mode
    (streaming_click_purchase_join), exactly what the memory table holds
    in those modes. Clean
    stop/restart replays no committed batch, so the append is exact here;
    a mid-batch crash could re-append its batch (foreachBatch is
    at-least-once), which the production path handles with MERGE
    (streaming_order_pipeline) — this helper is the deterministic test
    harness, not a production sink.
    """
    if mode == "complete":
        name = f"mem_{uuid.uuid4().hex[:8]}"
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        return result.sparkSession.table(name)
    out = checkpoint + "_emit"
    q = (
        result.writeStream.outputMode(mode)
        .foreachBatch(lambda df, _eid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return result.sparkSession.read.parquet(out)


def streaming_window_agg(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """Watermarked tumbling (or, with ``slide``, hopping) window
    aggregation, run to completion.

    ``slide`` < ``window`` gives overlapping hopping windows: each event
    expands map-side into width/slide windows before the shuffle — the
    streaming twin of the batch `hop1` plan, with the same state-store
    keying (window, event_type); watermark expiry bounds state exactly as
    for tumbling windows.

    Complete output mode so every window surfaces in one availableNow pass
    (append would hold windows until the watermark crosses them — correct
    for unbounded runs, empty for a single catch-up batch).
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    w = (
        F.window("ts", window, slide)
        if slide is not None
        else F.window("ts", window)
    )
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
        )
    )
    return _run_to_memory(agg, "complete")


def streaming_session_window(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    source: DataFrame | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Watermarked session-window aggregation (`session_window`): per-user
    sessions whose windows merge while consecutive events are <= gap apart
    (an event exactly gap after its predecessor still merges — adjacent
    [t, t+gap) ranges union; a *strictly* larger gap starts a new session,
    the same `>` convention as the batch sessionize oracle, w3).

    Session end is last-event + gap, per Spark's definition. The dynamic
    (data-dependent) window extent is what tumbling windows (st1) cannot
    express; state per key is bounded by the watermark. Complete output
    mode so one availableNow pass surfaces every closed session; epoch-
    micros outputs keep the cross-engine comparison exact.
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "user_id",
            "n_events",
        )
    )
    if checkpoint is not None:
        return _run_to_memory_checkpointed(agg, "complete", checkpoint)
    return _run_to_memory(agg, "complete")


def streaming_dedup_count(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Cross-batch idempotency: duplicate the stream (union with itself),
    dedup on event_id within the watermark, count per event_type.

    This is the ``dropDuplicatesWithinWatermark`` upgrade over the
    reference's per-request Set (SURVEY.md §2.8): a webhook retry (here a
    whole duplicated stream) applies exactly once.
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n"))
    if checkpoint is not None:
        return _run_to_memory_checkpointed(agg, "complete", checkpoint)
    return _run_to_memory(agg, "complete")


def streaming_stateful_counters(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value-in-cents sum) counters — the in-engine
    re-expression of the reference's externalized read-modify-write counter
    state (makeRouter.js:104→120; SURVEY.md §2.8 'state' row).

    State is an Arrow-batched per-key tuple; each trigger folds the batch
    into it and emits the running totals (update mode). Money accumulates in
    integer cents so the emitted totals are exact across engines. At scale
    state lives in the state store (RocksDB provider on a cluster),
    partitioned by the grouping key — no external store round-trips.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = source if source is not None else stream_events(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        # sign-aware SQL-round fold (half away from zero on BOTH signs,
        # non-finite refused loudly) — functions/money.py. pandas' own
        # .round() is half-to-even and diverges on exact .5 float ties,
        # which are REAL (0.005 * 100 == 0.5 exactly; r13 find), and the
        # interim floor(x+0.5) diverged on negative ties (r14).
        # Absolute import: relative imports don't survive cloudpickle.
        from data_transform_make_spark.functions.money import money_round_units

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(money_round_units(pdf["value"], 100).sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total_cents": [cents]})

    res = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n bigint, total_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if checkpoint is not None:
        return _run_to_memory_checkpointed(res, "update", checkpoint)
    return _run_to_memory(res, "update")


def streaming_counters_native(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """The st3 per-user (event count, cents sum) counters as a NATIVE
    update-mode streaming aggregation — the production default whenever
    the fold is expressible as built-in aggregates.

    Same semantics as ``streaming_stateful_counters`` (identity-tested on
    the full events fixture, tests/test_streaming.py), entirely JVM-side:
    no Arrow serialization, no Python worker in the state path. The r15
    A/B (tools/r15_evidence.py st3ab) measured it ×1.45 faster at sf0.1
    and ×2.4 at sf1.0, widening with state-key count — the gap is the
    per-key Arrow/Python round-trip that a native HashAggregate over the
    state store never pays (SCALE.md r15/r16).

    Rounding parity: Spark ``round`` on DOUBLE goes through
    ``BigDecimal.valueOf`` (shortest-decimal) with HALF_UP — half away
    from zero on both signs, no ``+0.5`` double-rounding — so the cents
    it folds equal ``functions/money.py:money_round_units`` on exact
    ties, one-ULP near-ties, and both signs (the r13/r14 divergence
    shapes). The identity test pins this, not just the argument.

    Reach for ``streaming_stateful_counters`` (Arrow) only when the fold
    is NOT expressible natively: conditional state resets, multi-field
    state machines, or loud-refusal semantics (non-finite/out-of-range
    money raises there; native ``round`` would fold NaN silently to NULL
    under ``sum``).

    ``checkpoint`` is the same signature-additive durable-checkpoint
    param the Arrow form carries: recovery of the native HashAggregate
    state store is probed, not argued — st3_native_restart_mid_wave in
    tools/streaming_hostile_sim.py stops the query after batch 1 and
    restarts it on the same checkpoint (r16 verdict item 2).
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    if checkpoint is not None:
        return _run_to_memory_checkpointed(agg, "update", checkpoint)
    return _run_to_memory(agg, "update")


def streaming_click_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    horizon_minutes: int = 10,
    source: DataFrame | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the clicks by
    the same user in the preceding ``horizon_minutes``.

    Both sides carry watermarks and the join condition bounds event time —
    exactly the shape Structured Streaming needs to age join state out of
    the state store (unbounded state otherwise). Inner join emits matches
    as they arrive, so an availableNow pass equals the batch join.
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.round(F.col("purchase_value") * 100)).cast("long").alias("purchase_cents"),
    )
    if checkpoint is not None:
        return _run_to_memory_checkpointed(joined, "append", checkpoint)
    return _run_to_memory(joined, "append")


def _checkpointed_state_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    inventory: DataFrame,
    apply_fn,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """foreachBatch with a parquet-checkpointed state carry — the Delta-less
    MERGE-per-batch emulation.

    Each micro-batch applies ``apply_fn(batch_df, current_inventory)`` and
    writes the post-state to a fresh per-epoch parquet target; the next
    batch reads it back. The state table never rides through the driver
    (the old ``collect()``/``createDataFrame`` carry was a driver OOM at
    scale), lineage is cut at every epoch (the read is a fresh scan, not a
    plan stacked on all previous batches), and the epoch just consumed is
    deleted after its successor is durably written — bounded storage, ≤ 2
    epochs live at any instant. With Delta jars present the write/read pair
    collapses to ``MERGE INTO`` on one target table; the call sites are
    unchanged.

    ``checkpoint_dir``: a Structured Streaming ``checkpointLocation``.
    With it, source offsets are committed durably — a RESTARTED run over
    the same source (pass the previous post-state as ``inventory``)
    processes only data that arrived since. foreachBatch itself is
    AT-LEAST-ONCE: a crash between the state write and the offset commit
    replays that batch on restart — which is why the state write is
    IDEMPOTENT BY EPOCH ID: a replayed epoch whose ``epoch_<id>`` dir
    already carries a parquet ``_SUCCESS`` marker is NOT re-applied; its
    committed post-state is loaded instead (replay delivers the same
    deterministic batch under the same epoch id, so the stored result
    IS the replay's result). Together: exactly-once EFFECTS — offsets
    dedupe cleanly-restarted input, the epoch-keyed write dedupes the
    crash-replay window. Requires ``state_dir`` to survive restarts
    alongside the checkpoint — and the two are BOUND: the state_dir is
    stamped with its checkpoint path (``_lineage`` marker, realpath'd so
    symlinked/relative respellings of one checkpoint agree) on first use,
    and a run that pairs it with a different checkpoint (or finds
    unstamped epoch state) is refused with an error, because epoch ids
    restart at 0 in a new lineage and stale ``epoch_0`` state would be
    silently loaded in place of the new run's first batch. A stamped
    state_dir holding NO epoch dirs (a run that died pre-first-batch)
    carries no replay hazard and is rebound instead of refused. Without
    ``checkpoint_dir`` each run is a fresh full pass (tests/demos).
    """
    import os
    import shutil
    import tempfile

    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="dtm_state_")
    # Lineage binding (advice, round 6): the replay guard below keys on
    # epoch ids, and epoch ids are only unique WITHIN one checkpoint
    # lineage — a caller who starts a NEW checkpoint_dir over a surviving
    # state_dir restarts at epoch 0, and a leftover epoch_0/_SUCCESS from
    # the old lineage would be loaded as if it were this run's first
    # batch (silent swallow). The state_dir is therefore stamped with the
    # checkpoint path it belongs to; a mismatch is refused loudly — the
    # caller must either reuse the matching checkpoint (a genuine restart)
    # or point at a fresh/empty state_dir (a genuine new job).
    if checkpoint_dir is not None:
        marker = os.path.join(state_dir, "_lineage")
        # realpath, not abspath (advice, round 7): the same logical
        # checkpoint reached via a symlink or a different cwd-relative
        # spelling across restarts must not read as a foreign lineage
        lineage = os.path.realpath(checkpoint_dir)
        if os.path.exists(marker):
            with open(marker) as fh:
                bound = fh.read().strip()
            # migration shim (advice, round 8): markers written BEFORE
            # the r8 abspath→realpath switch hold the abspath spelling;
            # through a symlinked checkpoint path that differs from the
            # realpath, and a legitimate in-flight restart (epoch dirs
            # present) would be refused on upgrade. An old-format marker
            # that abspath-matches THIS checkpoint is the same lineage —
            # accept it and rewrite it in place in the new format.
            # ADVICE r9 tightening: the abspath match alone cannot see a
            # SYMLINK RETARGETED between runs — the old marker's abspath
            # spelling still matches while the realpath now names a
            # DIFFERENT checkpoint, and a blind rewrite would rebind
            # foreign replayable epoch state. Before rewriting over
            # committed epochs, require the realpath'd target to be
            # consistent with them: every committed epoch except the
            # newest (the legitimate crash window — _SUCCESS written,
            # offset commit not yet) must have its batch committed in
            # THIS checkpoint's commits/ log. A retargeted link fails
            # that (the other checkpoint's commit ids don't cover this
            # state's epochs) and falls through to the loud refusal.
            #
            # RESIDUAL GAP, inherent (advice, round 10 — documented, not
            # closable): the coverage check excludes the NEWEST epoch
            # because a same-lineage crash legitimately leaves one
            # committed epoch dir with no commit file (_SUCCESS written,
            # offset commit not yet). With <= 1 committed epoch the
            # epochs[:-1] check is therefore VACUOUSLY true, and it is
            # also satisfied coincidentally if the foreign checkpoint
            # happens to have commits for the same batch ids. In both
            # cases a retargeted symlink still rebinds and stale epoch_0
            # state can swallow the new lineage's first batch. Closing
            # it would refuse the legitimate crash-restart, which is the
            # more common event — so the migration path is safe BY
            # CONSTRUCTION only at >= 2 committed epochs; operators
            # migrating younger state through retargeted symlinks should
            # use a fresh state_dir instead.
            if bound != lineage and bound == os.path.abspath(checkpoint_dir):
                epochs = sorted(
                    int(d[len("epoch_"):])
                    for d in os.listdir(state_dir)
                    if d.startswith("epoch_")
                    and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
                )
                commits_covered = all(
                    os.path.exists(os.path.join(lineage, "commits", str(e)))
                    for e in epochs[:-1]
                )
                if commits_covered:
                    with open(marker, "w") as fh:
                        fh.write(lineage)
                    bound = lineage
            if bound != lineage:
                # the refusal exists to protect REPLAYABLE state (epoch
                # dirs whose ids would collide with the new lineage's).
                # A stamped-but-empty state_dir — e.g. a run that died
                # before its first batch committed — carries no replay
                # hazard, so rebinding it to the new lineage is safe
                # (advice, round 7).
                has_epochs = any(
                    d.startswith("epoch_") for d in os.listdir(state_dir)
                )
                if not has_epochs:
                    with open(marker, "w") as fh:
                        fh.write(lineage)
                else:
                    raise ValueError(
                        f"state_dir {state_dir!r} is bound to checkpoint "
                        f"lineage {bound!r} but this run uses {lineage!r}; "
                        "reuse the matching checkpointLocation to restart, "
                        "or use a fresh state_dir for a new lineage (stale "
                        "epoch state would otherwise silently replace this "
                        "run's first batches)"
                    )
        else:
            os.makedirs(state_dir, exist_ok=True)
            stray = [
                d for d in os.listdir(state_dir) if d.startswith("epoch_")
            ]
            if stray:
                # epoch dirs without a lineage stamp: state left behind by
                # an uncheckpointed run — same silent-swallow hazard
                raise ValueError(
                    f"state_dir {state_dir!r} holds unstamped epoch state "
                    f"({sorted(stray)[:3]}...); use a fresh state_dir"
                )
            with open(marker, "w") as fh:
                fh.write(lineage)
    state = {"inventory": inventory, "epoch_path": None}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        path = os.path.join(state_dir, f"epoch_{epoch_id}")
        # idempotent replay guard: foreachBatch is at-least-once — after
        # a crash between the write below and the offset commit, Spark
        # re-delivers the SAME batch under the SAME epoch id. A completed
        # epoch dir (parquet _SUCCESS marker) means this batch's effects
        # are already in the stored post-state: load, don't re-apply. A
        # partial dir without the marker (crash mid-write) falls through
        # to the overwrite. ONLY with a durable checkpoint: epoch ids are
        # unique within one checkpoint lineage — without one, every run
        # restarts at epoch 0, and a leftover state_dir would silently
        # swallow a fresh run's batches (review, late r6). The _lineage
        # stamp above guarantees the dirs seen here belong to THIS
        # checkpoint lineage, so a _SUCCESS epoch really is a replay.
        if checkpoint_dir is not None and os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            state["inventory"] = spark.read.parquet(path)
            state["epoch_path"] = path
            return
        post = apply_fn(batch_df, state["inventory"])
        # write-aside + rename, NEVER overwrite `path` in place: the
        # current inventory may be a lazy scan OF `path` itself (an
        # uncheckpointed rerun reuses epoch ids, and the resumed caller
        # passes the previous post-state) — an in-place overwrite deletes
        # the very files the computation is reading mid-job (review,
        # late r6: FAILED_READ_FILE repro'd)
        tmp = path + "__tmp"
        post.write.mode("overwrite").parquet(tmp)
        prev = state["epoch_path"]
        if os.path.exists(path):
            shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        # pinned schema: the post-state's own schema is the file's schema,
        # and inferring it again would launch a footer-read job per batch
        state["inventory"] = spark.read.schema(post.schema).parquet(path)
        state["epoch_path"] = path
        if prev is not None and prev != path:
            # fully consumed by the write just completed
            shutil.rmtree(prev, ignore_errors=True)

    writer = stream.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return state["inventory"]


def streaming_process_pipeline(
    spark: SparkSession,
    events_stream: DataFrame,
    inventory: DataFrame,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """§3.2 as a stream: foreachBatch applies the batch process pipeline
    (status-transition counter transfer) per micro-batch — the same
    MERGE-per-batch execution model (and the same exactly-once-EFFECTS
    ``checkpoint_dir`` contract — committed offsets + epoch-id-idempotent
    state write) as :func:`streaming_order_pipeline`.

    Returns the final inventory post-state after all batches (a lazy scan
    of the last epoch's parquet checkpoint — never driver-materialized).
    """
    from ..plans.process_pipeline import process_webhook_pipeline

    return _checkpointed_state_pipeline(
        spark,
        events_stream,
        inventory,
        lambda batch, inv: process_webhook_pipeline(batch, inv).updated_inventory,
        state_dir,
        checkpoint_dir,
    )


def streaming_order_pipeline(
    spark: SparkSession,
    webhooks_stream: DataFrame,
    inventory: DataFrame,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """§3.1 as a stream: foreachBatch applies the batch order pipeline per
    micro-batch and MERGEs the post-state into a parquet-checkpointed
    target (stand-in for a Delta ACID MERGE sink — Delta jars absent in v1).

    Returns the final inventory post-state after all batches (a lazy scan
    of the last epoch's parquet checkpoint — never driver-materialized).
    """
    from ..plans.order_pipeline import order_webhook_pipeline

    return _checkpointed_state_pipeline(
        spark,
        webhooks_stream,
        inventory,
        lambda batch, inv: order_webhook_pipeline(batch, inv).updated_inventory,
        state_dir,
        checkpoint_dir,
    )


def streaming_ingest_routing(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """The S2-S4 raw-ingest chain as a REAL streaming query — the shape the
    reference actually is (a webhook endpoint IS an unbounded stream of
    raw bodies; server.js:11-39 processes one element per trigger).

    Per micro-batch, map-only: synthesize the raw body per event (the i1
    grid: every 50th corrupted, every 97th blank), sanitize + permissive-
    parse + tag routing in ONE projection (sources/ingest.py
    ingest_with_reason — no per-leg re-scan), then a streaming groupBy on
    the leg tag (complete mode; state is 3 rows). The literal legs join
    runs batch-side on the materialized result so empty legs still
    surface with n=0. Oracle: the identical batch SQL as i1 — availableNow
    over a static source must reproduce the batch answer exactly.
    """
    from pyspark.sql import types as T

    from ..sources.ingest import ingest_with_reason

    ev = source if source is not None else stream_events(spark, sf_dir)
    raw = ev.select(
        "event_id",
        F.when(F.col("event_id") % 50 == 0, F.lit("{bad"))
        .when(F.col("event_id") % 97 == 1, F.lit("  \x00"))
        .otherwise(F.concat(F.lit("  "), F.col("props"), F.lit("\x00 ")))
        .alias("raw_body"),
    )
    schema = T.StructType([T.StructField("k", T.LongType())])
    tagged = ingest_with_reason(raw, schema)
    agg = tagged.groupBy(
        F.coalesce("reject_reason", F.lit("parsed")).alias("leg")
    ).agg(F.count("*").alias("n"), F.sum("record.k").alias("k_sum"))
    mem = _run_to_memory(agg, "complete")
    legs = spark.createDataFrame(
        [("parsed",), ("invalid_json",), ("payload_too_large",)], "leg string"
    )
    return legs.join(mem, "leg", "left").select(
        "leg", F.coalesce("n", F.lit(0)).alias("n"), "k_sum"
    )


def streaming_static_enrichment(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Stream-static join (st7): per-record enrichment of the event stream
    against a broadcast BATCH dimension — the third streaming join shape
    next to stream-stream (st4, state-store-backed) and the foreachBatch
    MERGE (st6, sink-side).

    The static side is re-planned per micro-batch as an ordinary
    broadcast hash join: NO streaming state at all — nothing to
    watermark, nothing to age out, so this is the cheapest join a stream
    can do and the default shape for dimension enrichment at 100 TB
    (a dim refresh is a re-broadcast on the next micro-batch, not a
    state rebuild). Append mode: an availableNow pass equals the batch
    join, which is the oracle.
    """
    from ..sources.loader import load_table

    ev = source if source is not None else stream_events(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    out = ev.join(dim, "user_id").select(
        "event_id",
        "user_id",
        F.col("c_mktsegment").alias("segment"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return _run_to_memory(out, "append")
