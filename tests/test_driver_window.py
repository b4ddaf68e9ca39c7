"""Driver certification-window invariants (corpus._DRIVER_WINDOW).

The external driver oracle-checks the FIRST 50 keys of queries() in dict
order; the window list controls that order explicitly (rotated per round so
every registered query accumulates a driver CORRECTNESS row). These checks
keep the list honest: exactly 50 names, every name resolves to a registered
query, no duplicates, rotation loses no query, and the core anchors stay
in-window every round.
"""

from data_transform_make_spark import corpus

CORE_ANCHORS = {
    "p1_status_gate",
    "p4_first_wins_dedup",
    "i1_ingest_dead_letter",
    "j1_lookup_join",
    "a1_a2_order_counter_deltas",
    "q1_pricing_summary",
    "st1_stream_window_agg",
}


def test_window_is_exactly_50_registered_keys():
    win = corpus._DRIVER_WINDOW
    assert len(win) == 50
    assert len(set(win)) == 50
    missing = [k for k in win if k not in corpus._QUERIES]
    assert not missing, f"window names not registered: {missing}"


def test_queries_dict_leads_with_window():
    keys = list(corpus.queries().keys())
    assert keys[:50] == list(corpus._DRIVER_WINDOW)


def test_rotation_preserves_every_registered_query():
    assert set(corpus.queries().keys()) == set(corpus._QUERIES.keys())
    assert set(corpus.oracle_sql().keys()) == set(corpus._ORACLES.keys())


def test_core_anchors_in_window():
    assert CORE_ANCHORS <= set(corpus._DRIVER_WINDOW)


def test_every_oracle_key_has_a_query():
    assert set(corpus._ORACLES) <= set(corpus._QUERIES)


def test_rotation_fronts_every_stalest_key():
    """The rotation contract the verdict re-verifies each round, automated.

    Recomputed the way the judge does it: fold all CORRECTNESS files
    BEFORE the window's own round (the window is committed before its
    round's driver file exists, so including the current round's file
    would flag the NEXT rotation's work as this window's failure), take
    the non-anchor keys whose newest row is oldest, and require the
    window to carry every one of them — plus the freshness floor: after
    this window runs, no key's newest row may be more than two rounds
    old. Exact ORDER is not pinned (changed-pair fronting is a
    sanctioned, documented deviation); membership is the invariant.
    """
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = corpus._DRIVER_WINDOW_ROUND
    latest = {}
    for f in sorted(
        glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    ):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rnd >= n:
            continue
        for k in json.load(open(f)):
            latest[k] = rnd
    if not latest:
        return  # fresh checkout without driver history: nothing to pin
    win = set(corpus._DRIVER_WINDOW)
    oldest = min(latest.values())
    stale = {k for k, v in latest.items() if v == oldest} - CORE_ANCHORS
    missing = stale - win
    assert not missing, (
        f"rotation must front every r{oldest}-stale key; missing: "
        f"{sorted(missing)}"
    )
    post = {k: (n if k in win else v) for k, v in latest.items()}
    assert min(post.values()) >= n - 2, (
        "freshness floor violated: after this window no key's newest "
        f"row may be older than r{n - 2}"
    )
