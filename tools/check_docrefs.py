#!/usr/bin/env python
"""Docstring/comment file-reference drift checker (verdict, round 8 #6).

The round-7 `cr1` docstring named a test file that did not exist — the
class of drift this guards: any `tests/…`, `tools/…`, or
`data_transform_make_spark/…` ``.py`` path mentioned in repo source
must exist, and a `:NNN` line anchor must be within the file. Run as part of
the verify workflow (check_queries -> driver_sim + explain_audit +
check_docrefs -> commit); exits non-zero and prints each stale
reference.

Scope note: the checker covers the source tree (package, tests, tools,
bench, entry) and the two docs that point into it, README.md and
SCALE.md, where a stale pointer misleads the next editor. A
``git show <sha>:<path>`` reference names history, not the tree, and is
exempt. ``perfbench/README.md`` is left out: it belongs to the benchmark,
which changes on its own schedule, so a pointer there is fixed with the
benchmark, not with the code it names.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# path-like tokens to verify: our three source roots, optional :line
_REF = re.compile(
    r"\b((?:tests|tools|data_transform_make_spark)/[A-Za-z0-9_/.]+?\.py)"
    r"(?::(\d+))?\b"
)
# a path read out of a commit, e.g. ``git show 208bba2:tools/x.py``
_GIT_SHOW = re.compile(r"git show [0-9a-f]{7,40}:$")

SCAN_GLOBS = [
    "data_transform_make_spark/**/*.py",
    "tests/**/*.py",
    "tools/*.py",
    "bench.py",
    "__spark_entry__.py",
    "README.md",
    "SCALE.md",
]


def iter_source_files():
    for g in SCAN_GLOBS:
        yield from sorted(REPO.glob(g))


def check() -> list[str]:
    problems: list[str] = []
    line_counts: dict[Path, int] = {}
    for src in iter_source_files():
        if "__pycache__" in src.parts:
            continue
        text = src.read_text(encoding="utf-8")
        for lineno, line in enumerate(text.splitlines(), start=1):
            for m in _REF.finditer(line):
                if _GIT_SHOW.search(line, 0, m.start()):
                    continue
                target = REPO / m.group(1)
                where = f"{src.relative_to(REPO)}:{lineno}"
                if not target.exists():
                    problems.append(
                        f"{where}: references missing file {m.group(1)}"
                    )
                    continue
                if m.group(2):
                    n = line_counts.get(target)
                    if n is None:
                        n = len(
                            target.read_text(encoding="utf-8").splitlines()
                        )
                        line_counts[target] = n
                    if int(m.group(2)) > n:
                        problems.append(
                            f"{where}: {m.group(1)}:{m.group(2)} is past "
                            f"EOF ({n} lines)"
                        )
    return problems


def main() -> int:
    problems = check()
    for p in problems:
        print(p)
    print(
        f"check_docrefs: {'OK' if not problems else 'STALE'} "
        f"({len(problems)} stale reference(s))"
    )
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
