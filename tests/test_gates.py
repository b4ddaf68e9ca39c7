"""The two whole-corpus gates, run with the rest of the suite.

* ``tools/explain_audit.py --check`` regenerates EXPLAIN_AUDIT.md in memory:
  it must be byte-identical to the committed file, and no hard rule may
  fail.
* ``tools/driver_sim.py`` runs every ``queries()`` entry at sf0.01 on a
  vanilla session (none of the engine's conf, as the external driver
  builds it) and compares each with its DuckDB twin: it must end
  ``FAILS: none``.

Each runs in a child interpreter from the repository root: the driver
simulation needs its own vanilla session and the audit a fresh one, while
this process already holds the test session. Local-mode Python workers
import the engine from the working directory, hence the root.
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str, timeout: int) -> tuple[int, str]:
    r = subprocess.run(
        [sys.executable, script, *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    return r.returncode, r.stdout


def _tail(out: str) -> str:
    return "\n".join(out.splitlines()[-60:])


def test_explain_audit_is_byte_identical():
    code, out = _run("tools/explain_audit.py", "--check", timeout=1200)
    assert "is byte-identical to a fresh regeneration" in out, _tail(out)
    assert out.splitlines()[-1] == "FAILS: none", _tail(out)
    assert code == 0, _tail(out)


def test_driver_sim_matches_every_oracle():
    code, out = _run("tools/driver_sim.py", timeout=1800)
    assert out.splitlines()[-1] == "FAILS: none", _tail(out)
    assert code == 0, _tail(out)
