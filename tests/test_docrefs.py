"""Docstring file-reference drift gate (verdict r8 #6): every
`tests/…`/`tools/…`/package `.py` path named in repo source must exist,
with any `:line` anchor inside the file — the round-7 `cr1`-docstring
drift class, now a standing check. The standalone CLI form is
`python tools/check_docrefs.py` (part of the verify workflow)."""

import importlib.util
from pathlib import Path


def test_no_stale_file_references():
    tool = Path(__file__).resolve().parent.parent / "tools" / "check_docrefs.py"
    spec = importlib.util.spec_from_file_location("check_docrefs", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.check() == []


def test_no_round_named_tools_or_tests():
    """Tools and tests are named for what they check, never for the round
    that added them: git holds the history, and a round-named file is a
    one-off probe or a shim that outlived its round."""
    import re

    repo = Path(__file__).resolve().parent.parent
    pat = re.compile(r"(^|_)r\d+(_|\.)")
    named = sorted(
        str(p.relative_to(repo))
        for d in ("tools", "tests")
        for p in (repo / d).rglob("*")
        if p.is_file() and "__pycache__" not in p.parts and pat.search(p.name)
    )
    assert named == [], f"round-named files: {named}"
