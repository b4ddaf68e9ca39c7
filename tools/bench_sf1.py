"""Auxiliary sf1.0 bench for optimization decisions (r21, verdict item 2).

The contract bench at sf0.1 is scheduling-bound post-r20 (8 cores beat
32; every cell is dominated by driver fixed costs), so cross-round
deltas there mostly measure box weather. This tool times the heavy
operator families against the deterministic x10 overlay
(``scale_sf1/``, built by tools/gen_scale_docs.py — replicas with
disjoint vocabularies, so the near-dup workload scales x10 with the
same skew profile) using the SAME protocol as one bench pass: fresh
session, one untimed warm run, min of three timed count() runs.

This is an ADDITION for decision evidence — the contract bench
(bench.py, env-driven sf dir, one JSON line) is untouched.

Usage: python tools/bench_sf1.py [query ...]   (default: the heavy set)
Prints one JSON line {"metric": "sf1_families", "queries": {...},
"sf": 1.0}, and each query's runs on stderr.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, "scale_sf1")

DEFAULT = [
    "ll1_training_corpus",
    "ll2_training_corpus_clustered",
    "ll3_training_corpus_capped",
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "dc1_dedup_clusters",
    "dc2_dedup_clusters_capped",
    "par1_paragraph_dedup",
    "dec1_decontamination",
    "a1_a2_order_counter_deltas",
    "p4_first_wins_dedup",
]

RUNS = 3


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    if not os.path.isdir(SF1_DIR):
        raise SystemExit(
            f"{SF1_DIR} missing — run: python tools/gen_scale_docs.py"
        )
    from data_transform_make_spark import corpus
    from data_transform_make_spark.session import get_spark

    spark = get_spark("bench-sf1")
    qs = corpus.queries()
    spark.sparkContext.setJobDescription("sf1 warmup")
    qs["p1_status_gate"](spark, SF1_DIR).count()
    out: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"sf1 {name} warm")
        qs[name](spark, SF1_DIR).count()
        runs = []
        for i in range(RUNS):
            spark.sparkContext.setJobDescription(f"sf1 {name} run{i}")
            t0 = time.perf_counter()
            qs[name](spark, SF1_DIR).count()
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
        print(f"# {name}: {out[name]} (runs: {[round(r,3) for r in runs]})",
              file=sys.stderr)
    spark.stop()
    print(json.dumps({"metric": "sf1_families", "queries": out, "sf": 1.0}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
