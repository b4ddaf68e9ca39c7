"""Streaming hostile-arrival simulator (round 15, closing the r14 verdict
directive 5): the r14 hostile waves covered batch fixtures; the streaming
family's hostile states are ARRIVAL-ORDER ones, invisible to any
single-batch availableNow pass. This tool replays a controlled multi-batch
arrival order through the SHIPPED st1–st8 pipeline bodies (the `source`
parameter added in r15 — the aggregation/dedup/join/state logic under test
is exactly what `queries()` runs) and checks each result against the
registered DuckDB oracle, or against a scenario oracle where streaming
semantics diverge from the batch twin BY DESIGN (documented per scenario).

Mechanism: events are written as one parquet file per intended micro-batch
with ascending mtimes; `stream_events(..., max_files_per_trigger=1)` +
availableNow then delivers exactly one file per micro-batch in mtime order
(pinned by probe P0, r15). The hostile arrival states, all in ONE shared
fixture so every query sees every hazard:

  * a duplicate event_id STRADDLING a micro-batch boundary (1003 in b0 and
    b1) — st2 must apply it exactly once; st4/st5 must count it twice on
    both engines (they do not dedup);
  * an entirely EMPTY micro-batch (b2) — every pipeline must survive it;
  * a micro-batch that is ENTIRELY dead-letters under st6's ingest grid
    (b3: every event_id ≡ 0 mod 50);
  * a watermark-advancing event (b4: 18:00) followed by LATE rows beyond
    the watermark (b5: 09:50 click, 09:15 purchase);
  * a NULL event-time row (b0) — the r14 event-time contract says windowed
    aggs drop it; probed r15: dedup and the stateful counters ADMIT it
    (no event-time predicate applies to a NULL-ts row's state key).

Cross-batch contracts pinned by this wave (probes P1–P3, r15):

  * complete-mode windowed aggs (st1/st5/st8) never evict state and still
    aggregate late rows -> arrival-order INVARIANT: equals the registered
    batch oracle even with late arrivals. (In update/append mode late rows
    beyond the watermark are dropped — not the st* shapes.)
  * dropDuplicatesWithinWatermark (st2) delivered EXACTLY-ONCE per event
    id over this whole fixture: the straddling duplicate was suppressed
    by state, and the late b5 arrivals (new ids, ts far below the
    watermark) were ADMITTED and deduped normally — this operator applies
    NO input-side late filter under availableNow (first encoded
    expectation was "late new rows dropped"; the engine run refuted it,
    and the scenario oracle now pins plain count(DISTINCT event_id)).
    The honest boundary, per the operator's own contract: dedup is
    guaranteed only for duplicates arriving within the watermark delay of
    each other — a duplicate whose state was already evicted CAN
    double-count; this fixture's dup straddles adjacent batches well
    inside the delay, so exactly-once is exact here. (The registered
    batch oracle still differs by design: it assumes the shipped
    fixture's unique-id invariant, so a dup-containing fixture needs the
    DISTINCT scenario oracle.)
  * stream-stream inner join (st4): state cleanup is lazy/best-effort, and
    an availableNow pass over this fixture equals the batch join oracle
    (late purchase included) — pinned so a Spark behavior change surfaces
    as a contract change here, not silently in production.
  * applyInPandasWithState (st3): update mode emits one row per (key,
    batch); the LATEST row per key (max n — the counter is monotone) must
    equal the batch GROUP BY oracle.

Restart-mid-wave (r16, r15 verdict item 4): the wave also stops each
state-store operator (st2 dedup, st3 applyInPandasWithState, st4
stream-stream join, st5 session windows) after batch 1 and restarts it
on the SAME checkpoint over the remaining files — the state store must
be restored and continued, with the final result equal to BOTH the
uninterrupted run and the oracle. The split is placed so live state
crosses the restart (an open session that must merge a late row, a
counter that must continue rather than recount, a buffered click that a
late purchase must still join). Update/append-mode emissions are
accumulated via a recovery-capable foreachBatch parquet append
(streaming/pipelines.py:_run_to_memory with a checkpoint) — the memory sink
only supports checkpoint recovery in complete mode.

Run: python tools/streaming_hostile_sim.py (~2 min on a 4-vCPU host). The
same wave runs per-suite in tests/test_streaming_hostile.py.
"""

import datetime
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = os.environ.get("ADVERS_SF", "/root/testdata/sf0.001")

_T = datetime.datetime.fromisoformat
_D = "2024-01-02 "

# (event_id, ts, user_id, event_type, value, props) — users 1-5 exist in
# the sf0.001 customer table (st7's dim side). Values stay finite/non-NULL
# (the Arrow money-fold boundary); -12.005 is the negative exact tie.
BATCHES = [
    # b0: normal traffic + a NULL event-time row + an id ≡ 1 mod 97
    # (st6's 'empty body' grid leg)
    [
        (1001, _T(_D + "09:00:00"), 1, "click", 1.0, '{"k": 1}'),
        (1002, _T(_D + "09:10:00"), 1, "purchase", 2.5, '{"k": 2}'),
        (1003, _T(_D + "09:05:00"), 2, "click", 3.0, '{"k": 3}'),
        (1004, _T(_D + "09:40:00"), 2, "view", -12.005, '{"k": 4}'),
        (3002, None, 1, "click", 1.0, '{"k": 32}'),
        (971, _T(_D + "09:20:00"), 3, "view", 5.0, '{"k": 9}'),
    ],
    # b1: the straddling duplicate of 1003, a purchase joining b0's click,
    # a session-continuing click for user 1
    [
        (1003, _T(_D + "09:05:00"), 2, "click", 3.0, '{"k": 3}'),
        (1005, _T(_D + "09:12:00"), 2, "purchase", 4.0, '{"k": 5}'),
        (1006, _T(_D + "09:35:00"), 1, "click", 1.5, '{"k": 6}'),
    ],
    # b2: an entirely empty micro-batch
    [],
    # b3: entirely dead-letters under st6's grid (every id ≡ 0 mod 50)
    [
        (5000, _T(_D + "10:00:00"), 3, "click", 1.0, '{"k": 50}'),
        (5050, _T(_D + "10:05:00"), 3, "click", 1.0, '{"k": 51}'),
        (5100, _T(_D + "10:10:00"), 4, "click", 1.0, '{"k": 52}'),
    ],
    # b4: watermark advance (after this batch: wm = 17:00 on the 1 h
    # watermarks, 17:50 on st1's 10 min one)
    [(2000, _T(_D + "18:00:00"), 5, "view", 7.0, '{"k": 20}')],
    # b5: LATE rows beyond the watermark — a new click that must still
    # land in complete-mode aggs, and a purchase attributing to b0's click
    [
        (3000, _T(_D + "09:50:00"), 4, "click", 2.0, '{"k": 30}'),
        (3001, _T(_D + "09:15:00"), 2, "purchase", 6.0, '{"k": 31}'),
    ],
]

# st2's by-design divergence from its registered batch oracle (which
# assumes the shipped fixture's unique-id invariant): exactly-once over
# distinct ids — late arrivals included (no input-side late filter on
# this operator; see the module docstring).
ST2_SCENARIO_ORACLE = """
    SELECT event_type, count(DISTINCT event_id) AS n
    FROM events GROUP BY event_type
"""

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def build_fixture(spark) -> str:
    """Multi-batch hostile events (one parquet FILE per micro-batch,
    ascending mtimes) overlaid on the base fixture (other tables
    symlinked). Returns the overlay sf_dir."""
    workdir = tempfile.mkdtemp(prefix="sgraft_sthostile_")
    dst = os.path.join(workdir, "sf_sthostile")
    os.makedirs(dst)
    ev_dir = os.path.join(dst, "events.parquet")
    os.makedirs(ev_dir)
    base_mtime = 1700000000
    for i, rows in enumerate(BATCHES):
        sub = os.path.join(workdir, f"b{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(sub)
        parts = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        # one part per batch is what the arrival-order self-check relies
        # on; a Spark that skips the empty batch's file would fail here
        # with the batch named, not as a bare IndexError (ADVICE r15)
        assert len(parts) == 1, (
            f"batch b{i}: expected exactly one part file, got {parts}"
        )
        part = parts[0]
        path = os.path.join(ev_dir, f"batch_{i:03d}.parquet")
        shutil.move(os.path.join(sub, part), path)
        os.utime(path, (base_mtime + i * 100, base_mtime + i * 100))
        shutil.rmtree(sub)
    for entry in os.listdir(BASE_SF):
        if entry != "events.parquet":
            os.symlink(os.path.join(BASE_SF, entry), os.path.join(dst, entry))
    return dst


# one cross-engine normalization for both hostile suites — a norm fix in
# adversarial_sim applies here automatically (r15 self-review)
from adversarial_sim import norm  # noqa: E402


def _compare(name, mk_sdf, con, sql, fails):
    """Run one scenario with error isolation (the adversarial_sim
    pattern): a throwing pipeline records an ERROR fail instead of
    aborting the remaining scenarios."""
    try:
        sdf = mk_sdf()
        srows = sorted(
            (tuple(norm(v) for v in r) for r in sdf.collect()), key=repr
        )
        scols = [c.lower() for c in sdf.columns]
        res = con.execute(sql)
        dcols = [d[0].lower() for d in res.description]
        drows = sorted(
            (tuple(norm(v) for v in r) for r in res.fetchall()), key=repr
        )
    except Exception as e:
        fails.append(name)
        print(f"{name}: ERROR {str(e)[:200]}")
        return
    if scols == dcols and srows == drows:
        print(f"{name}: MATCH rows={len(srows)}")
    else:
        fails.append(name)
        diff = [(x, y) for x, y in zip(srows, drows) if x != y][:2]
        print(
            f"{name}: MISMATCH rows {len(srows)} vs {len(drows)}"
            f" cols {scols} vs {dcols} first-diffs {diff}"
        )


def run() -> list:
    import duckdb
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_transform_make_spark import corpus
    from data_transform_make_spark.session import get_spark
    from data_transform_make_spark.streaming import pipelines as P

    # Reuse a running session as is, and build the engine's own session
    # only when there is none. getOrCreate() applies builder options onto
    # an already-running session, so building with get_spark's .config()
    # calls under pytest would silently mutate the session shared by every
    # other test (it once flipped AQE coalescing and broke par1's
    # ReusedExchange plan pin two files later). Standalone, get_spark sizes
    # shuffle and state-store partitions to the cores; a vanilla session
    # would run every stateful micro-batch over 200 of them.
    spark = SparkSession.getActiveSession() or get_spark("streaming-hostile-sim")
    spark.sparkContext.setLogLevel("ERROR")
    sf = build_fixture(spark)
    try:
        con = duckdb.connect()
        for t in ["customer", "events"]:
            p = f"{sf}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        oracles = corpus.oracle_sql()
        fails: list = []

        def src():
            # a fresh one-file-per-micro-batch source per scenario
            return P.stream_events(spark, sf, max_files_per_trigger=1)

        # Arrival-order self-check: the hostile states only exist if the
        # files really arrive one-per-batch in mtime order (dup AFTER its
        # original, late rows AFTER the watermark advance). Every scenario
        # oracle is deliberately arrival-order invariant, so a silent
        # reordering would not FAIL them — it would quietly stop testing
        # straddles and lateness. Assert the delivery order first.
        delivered: list = []
        q = (
            src()
            .writeStream.foreachBatch(
                lambda df, eid: delivered.append(
                    (eid, sorted(r.event_id for r in df.collect()))
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        expected = [
            (i, sorted(r[0] for r in rows)) for i, rows in enumerate(BATCHES)
        ]
        got = sorted(delivered)
        if got != expected:
            print(f"arrival_order: MISMATCH got {got} expected {expected}")
            return ["arrival_order"]
        print(f"arrival_order: MATCH ({len(expected)} batches, one per file)")

        # st1/st8: complete-mode windowed aggs are arrival-order invariant
        # (late rows still aggregated; NULL ts dropped) -> registered oracle
        _compare(
            "st1_hostile_arrival",
            lambda: P.streaming_window_agg(
                spark, sf, window="1 hour", source=src()
            ),
            con, oracles["st1_stream_window_agg"], fails,
        )
        _compare(
            "st8_hostile_arrival",
            lambda: P.streaming_window_agg(
                spark, sf, window="1 hour", slide="30 minutes", source=src()
            ),
            con, oracles["st8_stream_hopping_window"], fails,
        )
        # st5: sessions straddle batch boundaries and merge a LATE row into
        # existing session state (user 4: 09:50 arrives after 10:10's
        # session formed and the watermark passed) -> registered oracle
        _compare(
            "st5_hostile_arrival",
            lambda: P.streaming_session_window(
                spark, sf, gap="30 minutes", source=src()
            ),
            con, oracles["st5_stream_session_window"], fails,
        )
        # st2: exactly-once under straddling dup + union-double + late
        # arrivals -> SCENARIO oracle (see module docstring)
        _compare(
            "st2_hostile_arrival",
            lambda: P.streaming_dedup_count(spark, sf, source=src()),
            con, ST2_SCENARIO_ORACLE, fails,
        )
        # st3: latest emitted row per user (update mode emits one row per
        # key per batch; n is monotone) == batch GROUP BY oracle
        def st3_latest():
            raw3 = P.streaming_stateful_counters(spark, sf, source=src())
            return (
                raw3.withColumn(
                    "__rk",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(F.col("n").desc())
                    ),
                )
                .filter(F.col("__rk") == 1)
                .drop("__rk")
            )

        _compare(
            "st3_hostile_arrival", st3_latest, con,
            oracles["st3_stream_stateful_counters"], fails,
        )
        # st4: availableNow inner join equals the batch join (state cleanup
        # is best-effort; the late purchase still attributes) -> registered
        # oracle. A Spark version that starts evicting earlier will surface
        # HERE as a contract change.
        _compare(
            "st4_hostile_arrival",
            lambda: P.streaming_click_purchase_join(
                spark, sf, horizon_minutes=10, source=src()
            ),
            con, oracles["st4_stream_stream_join"], fails,
        )
        # st6: the all-dead-letter batch (b3) and the empty batch (b2)
        # through the ingest router -> registered oracle (grid mirrors)
        _compare(
            "st6_hostile_arrival",
            lambda: P.streaming_ingest_routing(spark, sf, source=src()),
            con, oracles["st6_stream_ingest_routing"], fails,
        )
        # st7: stream-static enrichment is stateless per batch -> registered
        # oracle regardless of arrival order
        _compare(
            "st7_hostile_arrival",
            lambda: P.streaming_static_enrichment(spark, sf, source=src()),
            con, oracles["st7_stream_static_join"], fails,
        )

        # ---- restart-mid-wave (r16, closing the r15 verdict item 4): the
        # wave above replays hostile ARRIVAL orders in one uninterrupted
        # run; this block replays the one cross-batch state hazard that
        # leaves out — a STATE-STORE operator stopped mid-wave and
        # restarted on its checkpoint. Mechanism: run 1 sees only the
        # first SPLIT batch files and availableNow stops after catching
        # up (a clean stop at an exact batch boundary); the remaining
        # files are then added and a NEW query starts on the SAME
        # checkpoint — Structured Streaming must restore the state store
        # and continue. Final result must equal BOTH the uninterrupted
        # run and the batch oracle.
        #
        # SPLIT=2 puts real state across the restart: st5 — user 2's open
        # session (09:05–09:40, formed in run 1) must MERGE the late b5
        # 09:15 purchase after restart; st2 — the dedup-ids + count state
        # must survive (a lost store under-counts run-1 event types in
        # the complete-mode output); st3 — user 2's counter must CONTINUE
        # to n=5 (a state-less restart emits n=1 for b5's purchase and
        # latest-per-key reads 4).
        SPLIT = 2
        src_events = os.path.join(sf, "events.parquet")

        def grow_fixture(d, lo, hi):
            for i in range(lo, hi):
                fn = f"batch_{i:03d}.parquet"
                # copy2 preserves the ascending mtimes the delivery
                # order depends on
                shutil.copy2(
                    os.path.join(src_events, fn),
                    os.path.join(d, "events.parquet", fn),
                )

        def restarted(pipeline):
            d = tempfile.mkdtemp(prefix="restart_", dir=os.path.dirname(sf))
            os.makedirs(os.path.join(d, "events.parquet"))
            grow_fixture(d, 0, SPLIT)
            ckpt = os.path.join(d, "ckpt")
            pipeline(d, ckpt)  # run 1: batches [0, SPLIT), stops cleanly
            grow_fixture(d, SPLIT, len(BATCHES))
            return pipeline(d, ckpt)  # run 2: resumes from the state store

        def rows_of(df):
            return sorted(
                (tuple(norm(v) for v in r) for r in df.collect()), key=repr
            )

        def restart_scenario(name, pipeline, uninterrupted, oracle):
            try:
                res = restarted(pipeline)
                res_rows = rows_of(res)
                base_rows = rows_of(uninterrupted())
            except Exception as e:
                fails.append(name)
                print(f"{name}: ERROR {str(e)[:200]}")
                return
            if res_rows != base_rows:
                fails.append(name)
                diff = [
                    (x, y) for x, y in zip(res_rows, base_rows) if x != y
                ][:2]
                print(
                    f"{name}: MISMATCH vs uninterrupted run "
                    f"{len(res_rows)} vs {len(base_rows)} rows, "
                    f"first-diffs {diff}"
                )
                return
            # equals the uninterrupted run; now the oracle
            _compare(name, lambda: res, con, oracle, fails)

        def batched(d):
            return P.stream_events(spark, d, max_files_per_trigger=1)

        restart_scenario(
            "st5_restart_mid_wave",
            lambda d, ck: P.streaming_session_window(
                spark, d, gap="30 minutes", source=batched(d), checkpoint=ck
            ),
            lambda: P.streaming_session_window(
                spark, sf, gap="30 minutes", source=src()
            ),
            oracles["st5_stream_session_window"],
        )
        restart_scenario(
            "st2_restart_mid_wave",
            lambda d, ck: P.streaming_dedup_count(
                spark, d, source=batched(d), checkpoint=ck
            ),
            lambda: P.streaming_dedup_count(spark, sf, source=src()),
            ST2_SCENARIO_ORACLE,
        )
        # st4: the fourth state-store shape — BUFFERED JOIN state. The
        # late b5 purchase (user 2, 09:15, run 2) must attribute to click
        # 1003 and its straddling duplicate, BOTH buffered in run 1's
        # click-side state: a lost buffer drops those match rows, an
        # ignored checkpoint re-emits run-1 matches twice (append mode
        # accumulates). Watermark trajectory is identical to the
        # uninterrupted run, so if a Spark version starts evicting join
        # state differently across restart it surfaces here as a
        # contract change.
        restart_scenario(
            "st4_restart_mid_wave",
            lambda d, ck: P.streaming_click_purchase_join(
                spark, d, horizon_minutes=10, source=batched(d), checkpoint=ck
            ),
            lambda: P.streaming_click_purchase_join(
                spark, sf, horizon_minutes=10, source=src()
            ),
            oracles["st4_stream_stream_join"],
        )

        def latest_per_user(raw):
            return (
                raw.withColumn(
                    "__rk",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(F.col("n").desc())
                    ),
                )
                .filter(F.col("__rk") == 1)
                .drop("__rk")
            )

        restart_scenario(
            "st3_restart_mid_wave",
            # update mode: the checkpointed runner accumulates every
            # emitted (key, batch) row across BOTH runs; latest-per-user
            # over the union is the counter's final state
            lambda d, ck: latest_per_user(
                P.streaming_stateful_counters(
                    spark, d, source=batched(d), checkpoint=ck
                )
            ),
            st3_latest,
            oracles["st3_stream_stateful_counters"],
        )
        # st3 NATIVE: streaming_counters_native (st3's fold as a native
        # aggregation) is the one
        # state-store shape the wave above did not restart — its state is
        # a native update-mode HashAggregate (no Arrow/Python worker),
        # recovery nominally Spark-guaranteed, but this repo's standard is
        # probed, not argued. Same SPLIT=2 hazard as st3: user 2's counter
        # formed in run 1 must CONTINUE to n=5 after restart (a lost
        # aggregate store re-counts b5's purchase as n=1 and
        # latest-per-key reads 4); same latest-per-user reduction over
        # the accumulated (key, batch) emissions; same batch oracle.
        restart_scenario(
            "st3_native_restart_mid_wave",
            lambda d, ck: latest_per_user(
                P.streaming_counters_native(
                    spark, d, source=batched(d), checkpoint=ck
                )
            ),
            lambda: latest_per_user(
                P.streaming_counters_native(spark, sf, source=src())
            ),
            oracles["st3_stream_stateful_counters"],
        )
        return fails
    finally:
        shutil.rmtree(os.path.dirname(sf), ignore_errors=True)


if __name__ == "__main__":
    fails = run()
    print("FAILS:", fails if fails else "none")
    sys.exit(1 if fails else 0)
