"""The bench contract line must keep its warm cells, value and sf inside
the driver's evidence tail: `tools/check_bench_line.py`'s synthetic
worst-case line, run as a test."""

import importlib.util
import json
from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def tool():
    path = Path(__file__).resolve().parent.parent / "tools" / "check_bench_line.py"
    spec = importlib.util.spec_from_file_location("check_bench_line", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_synthetic_worst_case_line_survives_tail_cut(tool):
    assert tool.check(tool.synthetic_line()) == 0


def test_warm_section_first_is_caught(tool):
    # warm section at the front of the line: the tail cut drops it
    doc = json.loads(tool.synthetic_line())
    line = json.dumps({"queries": doc.pop("queries"), **doc})
    assert tool.check(line) == 1
