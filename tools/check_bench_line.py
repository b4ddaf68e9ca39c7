"""Round-trip check for the bench contract line vs the driver's evidence
tail (r21, verdict item 7).

The external driver stores only the LAST ``TAIL_CHARS`` characters of
bench output as its per-round evidence (``BENCH_rNN.json`` "tail");
BENCH_r19's warm-query cells were lost to exactly this front-truncation
(its line put the warm section first, and ``parsed`` came back null).
bench.py now orders the JSON so the contract-critical fields — the warm
``queries`` map, ``pass_totals``, ``value``, ``sf`` — sit at the END of
the line. This tool verifies that invariant against a real or synthetic
bench line: it simulates the tail cut and asserts the warm section,
value and sf all survive inside the suffix.

Usage:
    python tools/check_bench_line.py            # synthetic worst-case line
    python tools/check_bench_line.py line.json  # a captured bench line
    python tools/check_bench_line.py BENCH_r21.json   # a driver file
                                                # (checks its "tail")

Exit 0 = the tail would preserve the contract fields; 1 = it would not.
"""
from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

TAIL_CHARS = 2000  # the driver's observed tail-buffer size (r19/r20 files)


def synthetic_line() -> str:
    """Worst-case-shaped bench line: every headline cell present in every
    section, values at full 0.001-precision width."""
    q = {n: 12.345 for n in bench.HEADLINE}
    cold = {n: 123.456 for n in bench.HEADLINE}
    forced = {n: 12.345 for n in bench.FORCED_EVAL}
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "unit": "sec",
            "queries_cold": cold,
            "queries_forced": forced,
            "forced_missing": [],
            "queries": q,
            "pass_totals": [123.456, 123.456],
            "value": round(sum(q.values()), 3),
            "sf": 0.1,
        }
    )


def warm_cells(tail: str) -> dict[str, float] | None:
    """The warm ``queries`` cells in ``tail``, or None when the section
    is gone. The object after the LAST ``"queries"`` key is decoded as
    JSON, so any separator style parses; a tail that has no such key, or
    whose object after it does not decode, has lost the section."""
    at = tail.rfind('"queries"')
    m = re.compile(r'"queries"\s*:\s*').match(tail, at) if at >= 0 else None
    if not m:
        return None
    try:
        obj, _ = json.JSONDecoder().raw_decode(tail, m.end())
    except json.JSONDecodeError:
        return None
    if not isinstance(obj, dict):
        return None
    return {k: float(v) for k, v in obj.items()}


def check(line: str) -> int:
    tail = line[-TAIL_CHARS:]
    problems = []
    cells = warm_cells(tail)
    if cells is None:
        problems.append("warm \"queries\" section does not survive the tail cut")
    else:
        missing = [n for n in bench.HEADLINE if n not in cells]
        if missing:
            problems.append(
                f"warm cells missing from the tail: {missing[:5]}"
                f"{'...' if len(missing) > 5 else ''}"
            )
    for field in ('"value":', '"sf":', '"pass_totals":'):
        if field not in tail:
            problems.append(f"{field} does not survive the tail cut")
    print(f"line={len(line)} chars, tail budget={TAIL_CHARS}")
    if problems:
        for p in problems:
            print(f"FAIL: {p}")
        return 1
    print("OK: warm queries, pass_totals, value and sf all inside the tail")
    return 0


def main() -> int:
    if len(sys.argv) > 1:
        raw = open(sys.argv[1]).read().strip()
        try:
            doc = json.loads(raw)
            line = doc["tail"] if isinstance(doc, dict) and "tail" in doc else raw
        except json.JSONDecodeError:
            # a captured session log: take the LAST line that carries a
            # warm-queries section, not whatever trailing noise exists
            cands = [l for l in raw.splitlines() if '"queries"' in l]
            if not cands:
                print("no bench line found in input")
                return 1
            line = cands[-1]
    else:
        line = synthetic_line()
    return check(line)


if __name__ == "__main__":
    sys.exit(main())
