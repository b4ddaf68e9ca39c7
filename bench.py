"""Benchmark harness — runs the corpus's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Per-query protocol (round 5, after the r4 inflation event): the full
measurement pass runs TWICE, each pass in its OWN SUBPROCESS (a fresh JVM —
fresh JIT code cache, fresh block manager, fresh shuffle dirs), and the
published number is the min per query across both passes. Within a pass:
one untimed warmup run (pays whole-stage-codegen / Janino compilation — a
fixed few-second cost that is noise at the 100 TB design point but 50-80%
of wall time at sf0.1), then the MIN of three timed runs to a count()
action (results are not collected to the driver — we measure engine
throughput, not IPC).

Why two JVMs: this box is a shared VM and entire sessions are occasionally
inflated several-fold by host neighbors / JIT recompile storms (observed:
identical code 2.7 s vs 13.4 s across sessions — BENCH_r04 published such
a session and read as a 16-query regression). Min *within* one session
cannot defend against a bad session; min across two separated sessions
can, at the cost of ~2× bench wall time. Both per-pass totals are
published (``pass_totals``) so an inflated pass is visible instead of
silently averaged in; if they differ by >25% the min still wins, but the
spread is the tell that one session was noise-bound.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "i1_ingest_dead_letter",
    "a1_a2_order_counter_deltas",
    "j1_lookup_join",
    "a4_a6_status_transitions",
    "w1_running_total",
    "w2_topk_per_group",
    "w3_sessionize",
    "j2_as_of_join",
    "j3_range_join",
    "q6_filter_agg",
    "pc1_percentiles",
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "n1_topk_cosine",
    "ta1_text_stats",
    "agg1_ordered_collect",
    "ll1_training_corpus",
    # added in round 4 (totals before/after are not directly comparable):
    "dec1_decontamination",
    "ch1_doc_chunks",
    # added in round 5 (same caveat): the cluster-exact curation pipeline
    # and its capped production variant
    "ll2_training_corpus_clustered",
    "ll3_training_corpus_capped",
    # added in round 6 (same caveat): line-level cleaning and the
    # duplicated-span report — both map-only/one-shuffle text-curation ops
    "tc1_line_cleaning",
    "sd1_substring_dup_report",
    # added late round 6 (same caveat): paragraph-global dedup, column
    # profile, BM25 retrieval, CDC snapshot diff, hopping windows
    "par1_paragraph_dedup",
    "dq1_column_profile",
    "bm25_1_query_ranking",
    "diff1_snapshot_diff",
    "hop1_hopping_window_agg",
    # added round 8 (same caveat): families previously unrepresented in
    # the headline set — date/series gap-fill, native unpivot, batch
    # tumbling windows, and the two Python-boundary paths (Arrow
    # pandas_udf, UDTF lateral) whose regression would otherwise be
    # invisible between rounds
    "gf1_calendar_gap_fill",
    "unp1_unpivot_measures",
    "w4_tumbling_window",
    "pu1_scalar_pandas_udf",
    "udtf1_lateral_tokenize",
]

RUNS_PER_PASS = 3

# Headline queries whose plan ENDS in a bare projection: a count() action
# lets Catalyst prune that projection, so their primary cells have always
# measured the scan (plus any cardinality-changing ops), NOT the map work
# (discovered round 12 — ta1's "flat" 10x scaling was an artifact). The
# count() protocol stays untouched for cross-round comparability; this
# third section re-times the same queries through a hash-sum over every
# output column, which forces full evaluation, so the real per-round map
# cost is also on record ("queries_forced" in the output, excluded from
# the headline total).
#
# Protocol asymmetry, deliberate: a count() cell's warm-up run IS
# recorded (as its "queries_cold" cell); a forced cell's warm-up _run()
# is untimed and there is no forced-cold cell. Both warm cells are
# min-of-RUNS_PER_PASS after exactly one warm-up, so warm-vs-warm is
# comparable — but never compare a forced cell 1:1 against a count()
# cell of the same query: they evaluate different amounts of the plan
# (that gap is the r12 pruning finding itself).
FORCED_EVAL = [
    "ta1_text_stats",
    "tc1_line_cleaning",
    "pu1_scalar_pandas_udf",
    # not a bare-projection ender (its shuffles+join DO show in the
    # count() cell), but its final reassembly projection is pruned —
    # and that is exactly the stage the r12 reshape moved, so the full
    # cell is worth the record
    "par1_paragraph_dedup",
]


def run_pass(sf_dir: str) -> None:
    """One full measurement pass in THIS process; prints one JSON line."""
    from data_transform_make_spark import corpus
    from data_transform_make_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + parquet footers once so timings measure steady-state
    corpus.queries()["p1_status_gate"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    qs = corpus.queries()
    for name in HEADLINE:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)
        runs = []
        for _ in range(RUNS_PER_PASS):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
    forced: dict[str, float] = {}
    from pyspark.sql import functions as F

    for name in FORCED_EVAL:
        df = qs[name](spark, sf_dir)
        # decimal sum of 64-bit hashes: ANSI-safe, order-independent,
        # and every output column feeds it — nothing can be pruned
        hash_all = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))

        def _run(df=df, hash_all=hash_all):
            df.agg(hash_all).collect()

        _run()
        runs = []
        for _ in range(RUNS_PER_PASS):
            t0 = time.perf_counter()
            _run()
            runs.append(time.perf_counter() - t0)
        forced[name] = round(min(runs), 3)
    # unique sentinel prefix: the parent matches on it instead of "any line
    # starting with '{'" — a stray JVM/log4j '{...}' line printed around
    # spark.stop() can no longer be mistaken for the result JSON
    print(
        "BENCH_PASS_RESULT:"
        + json.dumps(
            {"queries": timings, "queries_cold": cold, "queries_forced": forced}
        )
    )
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    if "--pass" in sys.argv:
        run_pass(sf_dir)
        return

    passes = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--pass"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        lines = [
            l for l in out.stdout.splitlines() if l.startswith("BENCH_PASS_RESULT:")
        ]
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(f"bench pass failed (rc={out.returncode})")
        passes.append(json.loads(lines[-1][len("BENCH_PASS_RESULT:"):]))

    timings = {
        n: min(p["queries"][n] for p in passes) for n in HEADLINE
    }
    cold = {
        n: min(p["queries_cold"][n] for p in passes) for n in HEADLINE
    }
    # .get(): a replayed pass result from a pre-r12 bench.py has no
    # "queries_forced" key — degrade to the cells that exist rather
    # than KeyError (advice, round 12). Cells missing from EVERY pass
    # are listed in "forced_missing" so degraded output is
    # self-describing — a ledger reader can tell "degraded away by
    # replay" from "cell removed" (advice, round 13).
    forced = {}
    for n in FORCED_EVAL:
        vals = [
            p["queries_forced"][n]
            for p in passes
            if n in p.get("queries_forced", {})
        ]
        if vals:
            forced[n] = min(vals)
    forced_missing = [n for n in FORCED_EVAL if n not in forced]
    if forced_missing:
        sys.stderr.write(
            f"bench: FORCED_EVAL cells absent from every pass: "
            f"{forced_missing}\n"
        )
    total = round(sum(timings.values()), 3)
    # Key ORDER is deliberate (round 21; the values, fields and
    # methodology are unchanged): the external driver stores only the
    # LAST 2000 characters of output as its evidence tail, and the full
    # line is ~2.5k — with the warm "queries" section first (the r14-r20
    # order), front-truncation ate exactly the warm cells the next
    # round's comparison needs (BENCH_r19.json parsed: null). The
    # auxiliary sections (cold/forced/missing) now come first and the
    # contract-critical fields — warm queries, value, pass totals, sf —
    # last, so any 2000-char suffix contains them intact.
    # tools/check_bench_line.py pins the round-trip.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "unit": "sec",
                "queries_cold": cold,
                "queries_forced": forced,
                "forced_missing": forced_missing,
                "queries": timings,
                "pass_totals": [
                    round(sum(p["queries"].values()), 3) for p in passes
                ],
                "value": total,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
