"""The evidence tool's parsing and CLI contracts (pure python, no Spark).

tools/evidence.py is the one home of the bench-evidence instruments
(calib/movers/benchsteal/spread/passwind). Each reads PUBLISHED cells
from BENCH files: a direct bench.py payload, a driver file whose
`parsed` dict carries the cells, or the usual driver shape (`parsed:
null`, cells embedded in a front-truncated `tail` string). A silent
parse regression would make a scan vacuous (0 movers because 0 cells
read) or misread a published value the spread probe dispositions
against; these tests pin the recovery, its loud guards, the passwind
arithmetic, benchsteal's integration and the CLI dispatch.
"""

import json
import os
import subprocess
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import evidence  # noqa: E402

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "evidence.py",
)


def _write(tmp_path, name, obj):
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


def test_movers_flags_only_above_threshold(tmp_path):
    prev = {
        "queries": {"q1_pricing_summary": 1.0, "d1_exact_dedup": 2.0},
        "queries_cold": {"q1_pricing_summary": 3.0},
    }
    cur = {
        "queries": {"q1_pricing_summary": 1.10, "d1_exact_dedup": 2.5},
        "queries_cold": {"q1_pricing_summary": 2.4},
    }
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    flagged = {(f["column"], f["query"]): f["ratio"] for f in out}
    # 1.10/1.0 = +10% -> not flagged; 2.5/2.0 = +25% and 2.4/3.0 = -20% -> flagged
    assert ("queries", "q1_pricing_summary") not in flagged
    assert flagged[("queries", "d1_exact_dedup")] == 1.25
    assert flagged[("queries_cold", "q1_pricing_summary")] == 0.8


def test_movers_recovers_driver_format_tail(tmp_path):
    # the driver file shape: parsed null, cells in a FRONT-TRUNCATED
    # tail ("value" and the cut-off first key must not become cells;
    # "sf" after the forced section must be skipped too)
    tail = (
        'dedup": 0.288, "d2_ngram_jaccard": 2.0}, '
        '"queries_cold": {"d2_ngram_jaccard": 4.0}, '
        '"queries_forced": {"par1_paragraph_dedup": 1.0}, "sf": 0.1}'
    )
    prev = {"n": 16, "rc": 0, "tail": tail, "parsed": None}
    cur = {
        "queries": {"dedup": 9.9, "d2_ngram_jaccard": 2.5, "value": 9.9},
        "queries_cold": {"d2_ngram_jaccard": 4.0, "sf": 9.9},
        "queries_forced": {"par1_paragraph_dedup": 0.5},
    }
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    keys = {(f["column"], f["query"]) for f in out}
    assert keys == {
        ("queries", "d2_ngram_jaccard"),          # 2.5/2.0 = +25%
        ("queries_forced", "par1_paragraph_dedup")  # 0.5/1.0 = -50%
    }
    # the truncated "dedup" fragment never pairs with a real key
    assert ("queries", "dedup") not in keys


def test_movers_uses_parsed_payload_when_present(tmp_path):
    prev = {"parsed": {"queries": {"q1_pricing_summary": 1.0}}, "tail": ""}
    cur = {"queries": {"q1_pricing_summary": 2.0}}
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    assert [(f["column"], f["query"], f["ratio"]) for f in out] == [
        ("queries", "q1_pricing_summary", 2.0)
    ]


def test_movers_parsed_without_queries_falls_back_to_tail(tmp_path):
    # a parsed dict that exists but lacks "queries" must
    # NOT shadow the tail fallback (the old unconditional substitution
    # produced a vacuous 0-cell scan)
    prev = {
        "parsed": {"rc": 0},  # dict, but no cells
        "tail": '{"queries": {"q1_pricing_summary": 1.0}, '
                '"queries_cold": {"q1_pricing_summary": 3.0}, '
                '"queries_forced": {"q1_pricing_summary": 5.0}, "sf": 0.1}',
    }
    cur = {
        "queries": {"q1_pricing_summary": 2.0},
        "queries_cold": {"q1_pricing_summary": 3.0},
        "queries_forced": {"q1_pricing_summary": 5.0},
    }
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    assert [(f["column"], f["query"], f["ratio"]) for f in out] == [
        ("queries", "q1_pricing_summary", 2.0)
    ]


def test_movers_tail_recovers_scientific_notation(tmp_path):
    # 8e-05 must read as 8e-05, not "8" — a ~1e5x misread
    # would flag a phantom mover (or mask a real one)
    tail = (
        '{"queries": {"q1_pricing_summary": 8e-05}, '
        '"queries_cold": {"q1_pricing_summary": 1.5E+00}, '
        '"queries_forced": {"q1_pricing_summary": 2.0}, "sf": 0.1}'
    )
    prev = {"parsed": None, "tail": tail}
    cur = {
        "queries": {"q1_pricing_summary": 8e-05},   # identical -> not a mover
        "queries_cold": {"q1_pricing_summary": 1.5},  # identical
        "queries_forced": {"q1_pricing_summary": 3.0},  # +50% -> mover
    }
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    assert [(f["column"], f["query"], f["ratio"]) for f in out] == [
        ("queries_forced", "q1_pricing_summary", 1.5)
    ]


def test_movers_warns_when_truncation_eats_section_marker(tmp_path, capsys):
    # a tail cut past the '"queries_cold"' marker must not
    # silently fold the cold cells into the warm column (cross-column
    # ratios) — under front-only truncation the leading cells are COLD
    tail = (
        'jaccard": 4.0, "d1_exact_dedup": 2.0}, '
        '"queries_forced": {"par1_paragraph_dedup": 1.0}, "sf": 0.1}'
    )
    prev = {"parsed": None, "tail": tail}
    cur = {
        # old behavior folded the leading COLD cells into "queries":
        # d1 would then read 4.0/2.0 = a fake x2 warm mover
        "queries": {"d1_exact_dedup": 4.0},
        "queries_cold": {"d1_exact_dedup": 2.0},  # in-column: identical
        "queries_forced": {"par1_paragraph_dedup": 2.0},
    }
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    err = capsys.readouterr().err
    assert "WARNING" in err and "queries_cold" in err
    # the truncated 'jaccard' fragment never regexes to a key (no
    # opening quote survives the cut) and drops out; d1 lands in the
    # COLD column where it is flat, so only the forced mover remains
    assert [(f["column"], f["query"], f["ratio"]) for f in out] == [
        ("queries_forced", "par1_paragraph_dedup", 2.0)
    ]


def test_movers_warns_when_both_markers_eaten(tmp_path, capsys):
    tail = '_dedup": 1.0, "par1_paragraph_dedup": 1.0}, "sf": 0.1}'
    prev = {"parsed": None, "tail": tail}
    cur = {"queries": {}, "queries_forced": {"par1_paragraph_dedup": 2.0}}
    out = evidence.movers(
        _write(tmp_path, "cur.json", cur), _write(tmp_path, "prev.json", prev)
    )
    assert "WARNING" in capsys.readouterr().err
    assert [(f["column"], f["query"], f["ratio"]) for f in out] == [
        ("queries_forced", "par1_paragraph_dedup", 2.0)
    ]


def test_steal_summary_weights_residual_bin_by_duration(tmp_path):
    # the residual partial bin must contribute its share of
    # the draw, not a full 10-s vote. Two full bins (1000 jiffies) at
    # 0% steal + a 1-s residual (100 jiffies) at 21% steal -> 1.0%
    # weighted, not (0+0+21)/3 = 7.0% unweighted.
    bins = [(0.0, 80.0, 1000), (0.0, 80.0, 1000), (21.0, 50.0, 100)]
    s = evidence._steal_summary(bins)
    assert s["steal_mean_pct"] == 1.0
    assert s["steal_max_pct"] == 21.0
    assert s["bins_10s"] == 3


def test_benchsteal_survives_large_child_output(tmp_path, capsys):
    # pipe-deadlock regression: a child writing far past the
    # ~64 KiB OS pipe buffer must not hang benchsteal. 1 MiB of output
    # through the old stdout=PIPE-without-drain shape deadlocks; the
    # temp-file redirect completes immediately.
    script = tmp_path / "fat_bench.py"
    script.write_text(
        "import sys\n"
        "sys.stdout.write('x' * (1 << 20) + '\\n')\n"
        "sys.stdout.write('{\"metric\": \"fake\"}\\n')\n"
    )
    evidence.benchsteal(script=str(script))
    out = capsys.readouterr().out
    assert out.count("x") >= (1 << 20)
    summary = json.loads(out.rstrip().rsplit("\n", 1)[-1])
    assert set(summary) == {
        "steal_mean_pct", "steal_max_pct", "user_mean_pct", "bins_10s"
    }


def test_steal_summary_max_ignores_quantization_noise_residual():
    # a residual of a few jiffies quantizes steal% so
    # coarsely that one stolen tick reads as a spike — the max must
    # skip bins under ~1 s of weight (<10% of the largest bin). The
    # exactly-1-s residual in the test above (100 of 1000 jiffies)
    # still qualifies; this 5-jiffy one must not.
    bins = [(0.0, 80.0, 1000), (2.0, 80.0, 1000), (50.0, 50.0, 5)]
    s = evidence._steal_summary(bins)
    assert s["steal_max_pct"] == 2.0
    assert s["bins_10s"] == 3


def test_bench_cells_adopts_cold_only_parsed_payload(tmp_path):
    # a driver file whose parsed payload carries ONLY the cold column
    # must be adopted, not fall through to an empty tail; a parsed dict
    # with NO cell column still must not shadow the tail
    # (test_movers_parsed_without_queries_falls_back_to_tail)
    p = tmp_path / "b.json"
    p.write_text(json.dumps(
        {"parsed": {"queries_cold": {"pc1_percentiles": 0.3}}, "tail": ""}
    ))
    assert evidence.bench_cells(str(p)) == {
        ("queries_cold", "pc1_percentiles"): 0.3
    }


def test_published_cells_names_missing_cell_and_label(tmp_path):
    p = tmp_path / "b.json"
    p.write_text(json.dumps({"queries": {"q1_pricing_summary": 1.0}}))
    try:
        evidence.published_cells(
            str(p), [("queries_forced", "par1_paragraph_dedup")],
            label="BENCH_rQ.json",
        )
    except SystemExit as e:
        msg = str(e)
        assert "queries_forced" in msg
        assert "par1_paragraph_dedup" in msg
        assert "BENCH_rQ.json" in msg
    else:
        raise AssertionError("expected SystemExit on missing cell")


def test_cli_rejects_unknown_subcommand_and_bad_args():
    r = subprocess.run([sys.executable, TOOL, "benchstea"],
                       capture_output=True, text=True)
    assert r.returncode != 0 and "unknown subcommand" in r.stderr
    r = subprocess.run([sys.executable, TOOL, "spread", "0"],
                       capture_output=True, text=True)
    assert r.returncode != 0 and "n_sessions" in r.stderr
    r = subprocess.run([sys.executable, TOOL, "movers", "one-arg-only"],
                       capture_output=True, text=True)
    assert r.returncode != 0 and "usage" in r.stderr


def test_bench_cells_vacuous_payload_falls_back_to_tail(tmp_path, capsys):
    # a hybrid file with vacuous top-level column keys
    # (present but zero numeric cells) plus cells in the tail must not
    # read as a silent 0-cell scan — fall through to tail recovery
    # with a warning
    p = tmp_path / "b.json"
    p.write_text(json.dumps({
        "queries": {}, "queries_cold": None,
        "tail": '"a_b": 1.0, "queries_cold" "a_b": 2.5, '
                '"queries_forced" "a_b": 3.0',
    }))
    got = evidence.bench_cells(str(p))
    assert got == {
        ("queries", "a_b"): 1.0,
        ("queries_cold", "a_b"): 2.5,
        ("queries_forced", "a_b"): 3.0,
    }
    assert "falling back to" in capsys.readouterr().err
    # a direct payload WITH cells still short-circuits (no warning)
    p.write_text(json.dumps({
        "queries": {"a_b": 0.7}, "tail": '"queries_cold" "a_b": 9.9',
    }))
    assert evidence.bench_cells(str(p)) == {("queries", "a_b"): 0.7}
    assert capsys.readouterr().err == ""


def test_spread_missing_session_cell_exits_loudly(monkeypatch, capsys):
    # a pass payload missing a configured cell must exit
    # naming the session/column/query, not die with a bare KeyError
    fake = json.dumps({"queries": {"other_q": 1.0}})

    class _Done:
        returncode = 0
        stdout = "BENCH_PASS_RESULT:" + fake + "\n"
        stderr = ""

    monkeypatch.setattr(evidence.subprocess, "run",
                        lambda *a, **k: _Done())
    try:
        evidence.probe_spread(
            1, cells=[("queries", "ll3_training_corpus_capped")],
            rounds=("r18",),
        )
    except SystemExit as e:
        msg = str(e)
        assert "session 0" in msg
        assert "queries/ll3_training_corpus_capped" in msg
    else:
        raise AssertionError("expected SystemExit on missing cell")
    # the configuration line printed before the sessions started
    assert "SPREAD config: 1 session(s), published rounds r18" in \
        capsys.readouterr().out


def test_spread_cli_args(tmp_path):
    # cells/rounds reachable from the CLI, bad specs loud
    r = subprocess.run(
        [sys.executable, TOOL, "spread", "1", "--cells=nope:q1_x"],
        capture_output=True, text=True)
    assert r.returncode != 0 and "bad --cells entry" in r.stderr
    r = subprocess.run(
        [sys.executable, TOOL, "spread", "--cells=queries:"],
        capture_output=True, text=True)
    assert r.returncode != 0 and "bad --cells entry" in r.stderr
    r = subprocess.run([sys.executable, TOOL, "spread", "--rounds="],
                       capture_output=True, text=True)
    assert r.returncode != 0 and "at least one round" in r.stderr
    r = subprocess.run([sys.executable, TOOL, "spread", "sixish"],
                       capture_output=True, text=True)
    assert r.returncode != 0 and "unrecognized argument" in r.stderr
    # a good --cells/--rounds pair reaches probe_spread and fails
    # only at the published-cell lookup for the nonexistent round
    # (proving the args parsed and were threaded through)
    r = subprocess.run(
        [sys.executable, TOOL, "spread", "1",
         "--cells=queries:q1_pricing_summary", "--rounds=r999"],
        capture_output=True, text=True)
    assert r.returncode != 0
    assert "BENCH_r999.json" in r.stderr or "r999" in r.stderr


def test_spread_context_cells_survive_truncated_warm_cells(monkeypatch, capsys):
    # COLD cells are compared to published driver values while WARM
    # cells ride along as session-only context_cells: warm cells are
    # front-truncated out of the real BENCH_r16/r17 files, so demanding
    # published values for every tracked cell would be a hard
    # SystemExit. Fake the bench session; the published lookups run
    # against the REAL driver files in the repo.
    fake = json.dumps({
        "queries": {"pc1_percentiles": 0.2, "j1_lookup_join": 0.5},
        "queries_cold": {"pc1_percentiles": 0.33, "j1_lookup_join": 0.6},
        "queries_forced": {},
    })

    class _Done:
        returncode = 0
        stdout = "BENCH_PASS_RESULT:" + fake + "\n"
        stderr = ""

    monkeypatch.setattr(evidence.subprocess, "run",
                        lambda *a, **k: _Done())
    movers = ["pc1_percentiles", "j1_lookup_join"]
    evidence.probe_spread(
        1,
        cells=[("queries_cold", m) for m in movers],
        rounds=("r16", "r17"),
        context_cells=[("queries", m) for m in movers],
    )
    out = capsys.readouterr().out
    # cold cells: compared against the published r16/r17 values
    assert "pc1_percentiles [queries_cold]" in out
    assert "r16=0.327 r17=0.386" in out
    # warm cells: reported spread-only, no published comparison
    assert "pc1_percentiles [queries]" in out
    assert "context cell — spread only" in out


def _published_file(tmp_path, obj):
    p = tmp_path / "BENCH_rX.json"
    p.write_text(json.dumps(obj))
    return str(p)


_COLD_PAIR = [("queries_cold", "pc1_percentiles"),
              ("queries_cold", "j1_lookup_join")]


def test_published_cold_reads_parsed_payload(tmp_path):
    path = _published_file(
        tmp_path,
        {"parsed": {"queries_cold": {"pc1_percentiles": 0.327,
                                     "j1_lookup_join": 0.552,
                                     "other_cell": 9.9}}},
    )
    assert evidence.published_cells(path, _COLD_PAIR) == {
        ("queries_cold", "pc1_percentiles"): 0.327,
        ("queries_cold", "j1_lookup_join"): 0.552,
    }


def test_published_cold_recovers_truncated_tail(tmp_path):
    # driver shape: parsed null, cold cells inside a front-truncated
    # tail; a same-named warm cell BEFORE the cold marker and a forced
    # section AFTER it must both be ignored
    tail = (
        'summary": 1.0, "pc1_percentiles": 0.111, "j1_lookup_join": 0.222}, '
        '"queries_cold": {"pc1_percentiles": 0.386, "j1_lookup_join": 6.37e-01}, '
        '"queries_forced": {"pc1_percentiles": 9.9}, "sf": 0.1}'
    )
    path = _published_file(tmp_path, {"parsed": None, "tail": tail})
    # exponent-aware: 6.37e-01 reads as 0.637, not 6.37 (a mantissa-only
    # regex class would misread it by x10)
    assert evidence.published_cells(path, _COLD_PAIR) == {
        ("queries_cold", "pc1_percentiles"): 0.386,
        ("queries_cold", "j1_lookup_join"): 0.637,
    }


def test_published_cold_exits_loudly_on_missing_marker(tmp_path):
    # truncation past the cold marker must name the marker, not die
    # with a bare IndexError deep in the split
    path = _published_file(
        tmp_path, {"parsed": None, "tail": '"queries_forced": {}, "sf": 0.1}'}
    )
    try:
        evidence.published_cells(path, _COLD_PAIR, label="BENCH_rZ.json")
    except SystemExit as e:
        assert "queries_cold" in str(e) and "rZ" in str(e)
    else:
        raise AssertionError("expected SystemExit on missing marker")


def test_published_cold_exits_loudly_on_missing_cell(tmp_path):
    tail = ('"queries_cold": {"pc1_percentiles": 0.386}, '
            '"queries_forced": {}, "sf": 0.1}')
    path = _published_file(tmp_path, {"parsed": None, "tail": tail})
    try:
        evidence.published_cells(path, _COLD_PAIR)
    except SystemExit as e:
        assert "j1_lookup_join" in str(e)
    else:
        raise AssertionError("expected SystemExit on missing cell")


def _full_payload(scale=1.0):
    return {
        "queries": {"ll3_training_corpus_capped": 2.8 * scale,
                    "a1_a2_order_counter_deltas": 1.0 * scale},
        "queries_cold": {"a1_a2_order_counter_deltas": 1.8 * scale,
                         "a4_a6_status_transitions": 0.8 * scale,
                         "d3_minhash_lsh": 2.3 * scale,
                         "pc1_percentiles": 0.4 * scale},
        "queries_forced": {"par1_paragraph_dedup": 0.6 * scale},
        "pass_totals": [27.0 * scale, 34.0 * scale],
    }


def test_published_reads_every_mover_column(tmp_path):
    path = _published_file(tmp_path, {"parsed": _full_payload()})
    got = evidence.published_cells(path, evidence.SPREAD_CELLS)
    assert got[("queries", "ll3_training_corpus_capped")] == 2.8
    assert got[("queries_forced", "par1_paragraph_dedup")] == 0.6
    assert len(got) == len(evidence.SPREAD_CELLS)


def test_published_exits_loudly_on_missing_cell(tmp_path):
    payload = _full_payload()
    del payload["queries_forced"]["par1_paragraph_dedup"]
    path = _published_file(tmp_path, {"parsed": payload})
    try:
        evidence.published_cells(
            path, evidence.SPREAD_CELLS, label="BENCH_rY.json"
        )
    except SystemExit as e:
        assert "par1_paragraph_dedup" in str(e) and "rY" in str(e)
    else:
        raise AssertionError("expected SystemExit on missing cell")


def test_pass_totals_recovers_from_truncated_tail(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text(json.dumps({
        "parsed": None,
        "tail": '_dedup": 0.8}, "pass_totals": [27.245, 34.102], "sf": 0.1}',
    }))
    assert evidence.pass_totals(str(p)) == [27.245, 34.102]


def test_pass_totals_exits_loudly_when_truncated_away(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text(json.dumps({"parsed": None, "tail": '"sf": 0.1}'}))
    try:
        evidence.pass_totals(str(p))
    except SystemExit as e:
        assert "pass_totals" in str(e)
    else:
        raise AssertionError("expected SystemExit on missing pass_totals")


def test_passwind_flags_movers_and_gap_growth(tmp_path, capsys):
    prev = tmp_path / "prev.json"
    cur = tmp_path / "cur.json"
    prev.write_text(json.dumps(_full_payload()))
    payload = _full_payload()
    # one genuine mover (+30%) and a grown cold-warm gap on a1_a2
    payload["queries_cold"]["a1_a2_order_counter_deltas"] = 2.34
    cur.write_text(json.dumps(payload))
    evidence.passwind(str(cur), str(prev))
    out = capsys.readouterr().out
    assert "pass_totals" in out
    assert "a1_a2_order_counter_deltas: 1.8 -> 2.34 (×1.3)" in out
    # gap arithmetic: prev 1.8-1.0=0.8, cur 2.34-1.0=1.34 -> grew >0.3
    assert "prev gap 0.8 s -> cur gap 1.34 s" in out
    assert "1 grew >0.3 s" in out
