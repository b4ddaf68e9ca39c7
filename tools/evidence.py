"""The bench-evidence instruments: one entry point for everything the
bench protocol (SCALE.md "Bench protocol") runs.

Subcommands:

``calib`` — fixed-work CPU calibration bracket (r16 verdict item 3):
    four deterministic, data-independent workloads whose wall time
    depends ONLY on how fast this box is right now, never on the
    repo's code or fixtures. Published numbers are min-of-3;
    ``proc32`` is the cell a shared-VM noisy neighbor inflates first
    (the only one that asks for every advertised core at once, like
    the bench's local[32]).

    * ``pyloop``  — single-thread pure-Python arithmetic loop
      (3e7 iterations of integer multiply-accumulate).
    * ``sha1t``   — sha256 over 2 GiB of fixed bytes, one thread.
    * ``sha8t``   — 8 GiB of the same bytes across 8 threads (1 GiB
      each; sized so every cell is well over 0.5 s).
    * ``proc32``  — 16 GiB across 32 PROCESSES (512 MiB each) with
      /proc/stat sampled across the run: contention that only bites
      at full fan-out (hypervisor steal, a neighbor eating cores the
      8-thread cell never asks for) shows here and nowhere else.
      Processes, not threads: a 32-thread sha probe measures the GIL
      (measured r17: 32 threads = 7.6 busy cores), not the machine.

    A calibration bracket samples instants; only steal integrated
    over a draw (``benchsteal``) qualifies a band read.

``movers`` — per-cell scan of a bench JSON file against the prior
    round's (r16 protocol scope: warm/cold/forced columns, >15 %
    threshold). Driver files carry ``parsed: null`` with cells in a
    front-truncated ``tail`` string — recovery is section-split +
    regex, exponent-aware, with loud warnings when truncation ate a
    section marker.

``benchsteal`` — run ``python bench.py`` with /proc/stat sampled in
    10-s bins for the WHOLE draw; prints the bench line plus the
    integrated-contention line (mean/max steal %, mean user %). The
    r17 lesson: a calibration bracket samples two instants while a
    draw integrates ~7 minutes of a bursty box — only steal
    integrated OVER the draw reads as "the box was flat during this
    measurement". Band-read gate (r18+): integrated steal mean <=2 %.

``spread`` — mover disposition by same-code session spread (the
    r18 coldspread generalized to all three columns, r19): N fresh
    ``bench.py --pass`` subprocesses — the exact code path that
    produced the driver's cells — each reporting the configured
    mover cells; the summary prints each spread next to the published
    driver values of the two rounds under comparison. Timing probe:
    run it ALONE (the standing bench discipline).

``passwind`` — pure-parsing uniform-vs-burst read of a driver pass
    pair (r19): per-query ratio table for every recoverable column,
    each file's pass_totals, and the cold-minus-warm gap deltas that
    bound where the wind landed. Safe to run any time.

Usage: ``python tools/evidence.py calib``
       ``python tools/evidence.py movers BENCH_cur.json BENCH_prev.json``
       ``python tools/evidence.py benchsteal``
       ``python tools/evidence.py spread [n_sessions]
       [--cells=col:query[,...]] [--rounds=rA[,rB...]]``
       ``python tools/evidence.py passwind BENCH_cur.json BENCH_prev.json``
"""

import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- calib

def _pyloop() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(30_000_000):
        acc += i * i
    assert acc == 8999999550000005000000
    return time.perf_counter() - t0


_CHUNK = b"\xa5" * (1 << 20)  # 1 MiB of fixed bytes


def _sha(n_mib: int) -> None:
    h = hashlib.sha256()
    for _ in range(n_mib):
        h.update(_CHUNK)


def _sha1t() -> float:
    t0 = time.perf_counter()
    _sha(2048)
    return time.perf_counter() - t0


def _sha8t() -> float:
    t0 = time.perf_counter()
    ts = [threading.Thread(target=_sha, args=(1024,)) for _ in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return time.perf_counter() - t0


def _procstat() -> list:
    return list(map(int, open("/proc/stat").readline().split()[1:]))


_PROC32_CODE = (
    "import hashlib;c=b'\\xa5'*(1<<20);h=hashlib.sha256();"
    "[h.update(c) for _ in range(512)]"
)


def _proc32() -> dict:
    s0, t0 = _procstat(), time.perf_counter()
    ps = [
        subprocess.Popen([sys.executable, "-c", _PROC32_CODE])
        for _ in range(32)
    ]
    for p in ps:
        p.wait()
    wall = time.perf_counter() - t0
    d = [b - a for a, b in zip(s0, _procstat())]
    tot = sum(d) or 1
    return {
        "wall": round(wall, 3),
        "steal_pct": round(100 * d[7] / tot, 1),
        "busy_cores": round(d[0] / 100 / wall, 1),
    }


def calib() -> dict:
    out = {}
    for name, fn in (("pyloop", _pyloop), ("sha1t", _sha1t), ("sha8t", _sha8t)):
        out[name] = round(min(fn() for _ in range(3)), 3)
    runs = [_proc32() for _ in range(3)]
    best = min(runs, key=lambda r: r["wall"])
    best["steal_pct_max"] = max(r["steal_pct"] for r in runs)
    out["proc32"] = best
    return out


# ------------------------------------------------------- cell recovery

# Value pattern for tail recovery: exponents included — a cell
# serialized as 8e-05 must read as 8e-05, not as "8" (a ~1e5×
# misread that would feed a false mover into the disposition
# protocol; ADVICE r17).
_CELL_RE = r'"([a-z0-9_]+)": ([0-9.]+(?:[eE][+-]?[0-9]+)?)'

_COLUMNS = ("queries", "queries_cold", "queries_forced")


def bench_cells(path: str) -> dict:
    """Recover every (column, query) -> seconds cell from a BENCH file.

    Handles all three shapes the protocol meets: a direct bench.py
    payload, a driver file whose `parsed` dict carries the cells, and
    the usual driver shape (`parsed: null`, cells embedded in a
    front-truncated `tail` string).
    """
    top = json.load(open(path))
    d = top
    parsed = top.get("parsed")
    if (
        not any(c in d for c in _COLUMNS)
        and isinstance(parsed, dict)
        and any(c in parsed for c in _COLUMNS)
    ):
        # adopt the parsed payload only when it actually carries
        # cells in at least one column; a parsed dict WITHOUT cells
        # must not shadow the tail fallback below (ADVICE r17 — the
        # old unconditional substitution yielded a vacuous 0-cell
        # scan). Any-column (not just warm): the coldspread probe
        # reads driver files whose parsed payload carries only the
        # cold column (r18).
        d = parsed
    out = {}
    if any(c in d for c in _COLUMNS):
        for col in _COLUMNS:
            for k, v in (d.get(col) or {}).items():
                if isinstance(v, (int, float)):
                    out[(col, k)] = float(v)
        if out or not (top.get("tail") or ""):
            return out
        # vacuous direct payload (column keys present but zero
        # numeric cells) with a non-empty tail: fall through to tail
        # recovery instead of silently reporting 0 cells (ADVICE r19
        # — no current file has this hybrid shape, but a scan that
        # reads it as "0 movers" would pass as evidence)
        print(
            f"WARNING: {os.path.basename(path)} direct payload has "
            "column keys but zero numeric cells; falling back to "
            "tail recovery",
            file=sys.stderr,
        )
    # driver-format file: parsed is null, cells live in the (often
    # front-truncated) "tail" output string — recover by section
    # split + regex. A key cut off by the truncation regexes to a
    # wrong name and drops out of the comparison intersection naturally.
    tail = top.get("tail") or ""
    if not tail:
        return out
    # Sections are emitted warm -> cold -> forced and the driver
    # only ever truncates the tail from the FRONT. A missing
    # marker therefore means the cut reached past it, and the text
    # before the first PRESENT marker belongs to the section the
    # cut landed in — never silently to the prior column (the
    # cross-column comparison trap; ADVICE r17). Any absent marker
    # is warned loudly so a format change can't pass as 0 movers.
    warm, found_cold, rest = tail.partition('"queries_cold"')
    if found_cold:
        cold, found_forced, forced = rest.partition('"queries_forced"')
        if found_forced:
            sections = [("queries", warm), ("queries_cold", cold),
                        ("queries_forced", forced)]
        else:
            # cold present but forced absent: impossible under
            # front-only truncation — warn and keep the post-cold
            # text as cold rather than inventing a forced section
            print(
                "WARNING: tail lacks \"queries_forced\" marker; "
                "post-cold cells attributed to queries_cold only",
                file=sys.stderr,
            )
            sections = [("queries", warm), ("queries_cold", cold)]
    else:
        cold, found_forced, forced = tail.partition('"queries_forced"')
        if found_forced:
            print(
                "WARNING: tail truncated past \"queries_cold\" "
                "marker; leading cells attributed to queries_cold",
                file=sys.stderr,
            )
            sections = [("queries_cold", cold), ("queries_forced", forced)]
        else:
            print(
                "WARNING: tail lacks both section markers; all "
                "cells attributed to queries_forced (deepest cut)",
                file=sys.stderr,
            )
            sections = [("queries_forced", tail)]
    for col, part in sections:
        for k, v in re.findall(_CELL_RE, part):
            if "_" not in k:
                # non-query scalars that share the line ("value",
                # "sf") — every query key carries an underscore
                continue
            out[(col, k)] = float(v)
    return out


def published_cells(path: str, cells: list, label: str = None) -> dict:
    """Select named (column, query) cells from a BENCH file, loudly.

    A missing cell exits with a message naming the column/query and
    file: the spread probes disposition against these published
    values, and a silent miss (or a bare KeyError) would corrupt the
    disposition (ADVICE r18).
    """
    label = label or os.path.basename(path)
    got = bench_cells(path)
    out = {}
    for key in cells:
        if key not in got:
            raise SystemExit(
                f"evidence: no recoverable {key[0]}/{key[1]} cell in "
                f"{label} — cannot disposition against a missing "
                "published value"
            )
        out[key] = got[key]
    return out


def movers(cur_path: str, prev_path: str, threshold: float = 0.15) -> list:
    cur, prev = bench_cells(cur_path), bench_cells(prev_path)
    flagged = []
    for key in sorted(set(cur) & set(prev)):
        if prev[key] <= 0:
            continue
        ratio = cur[key] / prev[key]
        if abs(ratio - 1.0) > threshold:
            flagged.append(
                {"column": key[0], "query": key[1],
                 "prev": prev[key], "cur": cur[key], "ratio": round(ratio, 2)}
            )
    return flagged


# --------------------------------------------------------- benchsteal

def _steal_summary(bins: list) -> dict:
    """Integrate (steal%, user%, weight) bins into the published line.

    Means are weighted by each bin's total jiffies — with a constant
    core count, jiffies are proportional to bin duration, so the
    residual partial bin appended after process exit contributes
    exactly its share of the draw instead of a full 10-s vote
    (ADVICE r17).

    The max is restricted to bins carrying at least ~1 s of draw time
    (>= 10% of the largest bin's jiffy weight — full bins are 10 s):
    a residual of a few jiffies quantizes steal% so coarsely that a
    single stolen tick reads as a huge spike, and an unweighted max
    would publish that noise as the draw's burst ceiling (ADVICE r18).
    The largest bin always qualifies, so the max never goes empty.
    """
    w = sum(t for _, _, t in bins) or 1
    min_w = max((t for _, _, t in bins), default=0) * 0.1
    return {
        "steal_mean_pct": round(sum(s * t for s, _, t in bins) / w, 1),
        "steal_max_pct": round(
            max((s for s, _, t in bins if t >= min_w), default=0.0), 1
        ),
        "user_mean_pct": round(sum(u * t for _, u, t in bins) / w, 1),
        "bins_10s": len(bins),
    }


def benchsteal(script: str = None) -> None:
    import tempfile

    bins = []  # (steal_pct, user_pct, weight_jiffies)
    prev = _procstat()

    def _bin():
        nonlocal prev
        cur = _procstat()
        d = [b - a for a, b in zip(prev, cur)]
        prev = cur
        tot = sum(d)
        if tot > 0:  # zero-jiffy residual (sub-tick exit) carries no info
            bins.append((100 * d[7] / tot, 100 * d[0] / tot, tot))

    # stdout goes to a temp FILE, never a pipe: a pipe nobody drains
    # during a ~9-minute draw deadlocks the child the moment it writes
    # past the OS buffer (~64 KiB) and poll() then never turns
    # non-None (ADVICE r17).
    with tempfile.TemporaryFile(mode="w+") as outf:
        p = subprocess.Popen(
            [sys.executable, script or os.path.join(REPO, "bench.py")],
            stdout=outf, text=True, cwd=REPO,
        )
        while True:
            try:
                p.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                _bin()
        # the residual partial bin: up to 10 s of the draw's tail is
        # part of "steal integrated OVER the whole draw" (ADVICE r17)
        _bin()
        outf.seek(0)
        sys.stdout.write(outf.read())
    print(json.dumps(_steal_summary(bins)))


# ------------------------------------------------------------- spread

# the six r18 driver movers (bench --pass result column, query key) —
# the default cell set for `spread`; future rounds pass their own.
SPREAD_CELLS = [
    ("queries", "ll3_training_corpus_capped"),
    ("queries_cold", "a1_a2_order_counter_deltas"),
    ("queries_cold", "a4_a6_status_transitions"),
    ("queries_cold", "d3_minhash_lsh"),
    ("queries_cold", "pc1_percentiles"),
    ("queries_forced", "par1_paragraph_dedup"),
]


def probe_spread(
    n_sessions: int = 6,
    cells: list = None,
    rounds: tuple = ("r17", "r18"),
    context_cells: tuple = (),
) -> None:
    """Fresh-session spread for `cells` vs their published driver values.

    `context_cells` are tracked across the same sessions and reported
    as spread-only — NO published lookup: a mover's warm cells are
    often front-truncated out of the driver files, so demanding
    published values for them would be a hard exit.
    """
    cells = cells or SPREAD_CELLS
    # name the configuration up front: a stale invocation (old default
    # cells or rounds in a later round) must be obvious from the first
    # line of output (ADVICE r19)
    print(
        f"SPREAD config: {n_sessions} session(s), published rounds "
        + "/".join(rounds)
        + ", cells: "
        + " ".join(f"{q}[{col}]" for col, q in cells)
    )
    published = {
        rnd: published_cells(
            os.path.join(REPO, f"BENCH_{rnd}.json"), cells,
            label=f"BENCH_{rnd}.json",
        )
        for rnd in rounds
    }
    cells = cells + [k for k in context_cells if k not in cells]
    obs: dict = {key: [] for key in cells}
    for i in range(n_sessions):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"), "--pass"],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        lines = [
            l
            for l in out.stdout.splitlines()
            if l.startswith("BENCH_PASS_RESULT:")
        ]
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-2000:])
            raise SystemExit(f"spread: pass {i} failed rc={out.returncode}")
        res = json.loads(lines[-1][len("BENCH_PASS_RESULT:"):])
        for col, q in cells:
            cell = (res.get(col) or {}).get(q)
            if not isinstance(cell, (int, float)):
                # a missing cell (e.g. a renamed query in a later
                # round) must die loudly naming the session/column/
                # query, not with a bare KeyError minutes into a
                # multi-session probe (ADVICE r19) — mirrors the
                # published_cells guard style
                raise SystemExit(
                    f"spread: session {i} BENCH_PASS_RESULT carries "
                    f"no {col}/{q} cell — cannot disposition a cell "
                    "the pass payload does not report"
                )
            obs[(col, q)].append(cell)
        print(
            f"SPREAD session {i}: "
            + " ".join(
                f"{q}[{col}]={obs[(col, q)][-1]}" for col, q in cells
            )
        )
    for key in cells:
        col, q = key
        vals = obs[key]
        lo, hi = min(vals), max(vals)
        line = (
            f"SPREAD {q} [{col}]: {n_sessions}-session spread "
            f"[{lo}, {hi}] (×{round(hi / lo, 2)} natural variation)"
        )
        if key in published[rounds[0]]:
            pub = [published[rnd][key] for rnd in rounds]
            inside = all(lo <= v <= hi for v in pub)
            # the strict-inside check can miss by luck of the draw on
            # a fat-tailed distribution; the ×-spread is the context
            line += (
                "; published driver "
                + " ".join(f"{rnd}={v}" for rnd, v in zip(rounds, pub))
                + f" — all inside the observed spread: {inside}"
            )
        else:
            line += " (context cell — spread only)"
        print(line)


# ----------------------------------------------------------- passwind

def pass_totals(path: str) -> list:
    """Recover pass_totals from a BENCH file (parsed, direct, or tail)."""
    d = json.load(open(path))
    for src in (d, d.get("parsed") or {}):
        if isinstance(src, dict) and "pass_totals" in src:
            return src["pass_totals"]
    hit = re.search(r'"pass_totals": \[([0-9., eE+-]+)\]', d.get("tail") or "")
    if not hit:
        raise SystemExit(f"passwind: {path} has no recoverable pass_totals")
    return [float(v) for v in hit.group(1).split(",")]


def passwind(cur_path: str, prev_path: str) -> None:
    cur, prev = bench_cells(cur_path), bench_cells(prev_path)
    print(
        f"pass_totals: prev={pass_totals(prev_path)} "
        f"cur={pass_totals(cur_path)}"
    )
    for col in _COLUMNS:
        rows = []
        for (c, q), v in cur.items():
            if c == col and (c, q) in prev and prev[(c, q)] > 0:
                rows.append((q, prev[(c, q)], v, v / prev[(c, q)]))
        if not rows:
            print(f"{col}: no shared recoverable cells")
            continue
        ratios = [r for _, _, _, r in rows]
        up = sum(1 for r in ratios if r > 1.15)
        down = sum(1 for r in ratios if r < 1 / 1.15)
        print(
            f"{col}: {len(rows)} shared cells, median ratio "
            f"×{round(statistics.median(ratios), 2)}, "
            f">15% movers {up} up / {down} down"
        )
        for q, pv, cv, r in sorted(rows, key=lambda t: -abs(t[3] - 1)):
            if abs(r - 1) > 0.15:
                print(f"  {q}: {pv} -> {cv} (×{round(r, 2)})")
    # burst discriminator: per-query cold-minus-warm absolute deltas.
    # A cold cell is the same query's first run in a fresh JVM; under
    # UNIFORM wind cold-warm grows in proportion everywhere, under
    # BURSTS a few cells absorb multi-second stalls while the rest
    # hold their prev-round gap.
    gaps = []
    for (c, q), v in cur.items():
        if c != "queries_cold":
            continue
        w = cur.get(("queries", q))
        pw, pc = prev.get(("queries", q)), prev.get(("queries_cold", q))
        if None in (w, pw, pc):
            continue
        gaps.append((q, round(pc - pw, 3), round(v - w, 3)))
    if gaps:
        grown = [(q, a, b) for q, a, b in gaps if b - a > 0.3]
        print(
            f"cold-minus-warm gaps ({len(gaps)} cells with all four "
            f"values recoverable): {len(grown)} grew >0.3 s vs prev"
        )
        for q, a, b in sorted(gaps, key=lambda t: -(t[2] - t[1])):
            print(f"  {q}: prev gap {a} s -> cur gap {b} s")


# ---------------------------------------------------------------- CLI

def main(argv: list) -> None:
    cmd = argv[0] if argv else None
    if cmd == "calib":
        print(json.dumps({"calibration": calib()}))
    elif cmd == "movers":
        if len(argv) != 3:
            raise SystemExit(
                "usage: evidence.py movers <cur.json> <prev.json>"
            )
        out = movers(argv[1], argv[2])
        print(json.dumps(out, indent=1))
        print(f"{len(out)} mover(s) >15%")
    elif cmd == "benchsteal":
        benchsteal(argv[1] if len(argv) > 1 else None)
    elif cmd == "spread":
        # custom cells/rounds reachable from the CLI, not just Python
        # (ADVICE r19): the hardcoded defaults (the six r18 movers vs
        # r17/r18) run verbatim in a later round would silently
        # disposition against stale rounds — probe_spread also prints
        # its configuration as its first output line
        n, cells, rounds = 6, None, ("r17", "r18")
        for a in argv[1:]:
            if a.startswith("--cells="):
                cells = []
                for spec in a[len("--cells="):].split(","):
                    col, _, q = spec.partition(":")
                    if col not in _COLUMNS or not q:
                        raise SystemExit(
                            f"bad --cells entry {spec!r} (expected "
                            "column:query with column one of "
                            + ", ".join(_COLUMNS) + ")"
                        )
                    cells.append((col, q))
            elif a.startswith("--rounds="):
                rounds = tuple(
                    r for r in a[len("--rounds="):].split(",") if r
                )
                if not rounds:
                    raise SystemExit("--rounds needs at least one round")
            else:
                try:
                    n = int(a)
                except ValueError:
                    raise SystemExit(
                        f"spread: unrecognized argument {a!r} "
                        "(expected an int n_sessions, --cells=col:"
                        "query[,...], or --rounds=rA[,rB...])"
                    )
        if n < 1:
            raise SystemExit(f"n_sessions must be >= 1, got {n}")
        probe_spread(n, cells=cells, rounds=rounds)
    elif cmd == "passwind":
        if len(argv) != 3:
            raise SystemExit(
                "usage: evidence.py passwind <cur.json> <prev.json>"
            )
        passwind(argv[1], argv[2])
    else:
        raise SystemExit(
            f"unknown subcommand {cmd!r} (expected calib, movers, "
            "benchsteal, spread, or passwind)"
        )


if __name__ == "__main__":
    main(sys.argv[1:])
