"""Dump .explain('formatted') for the bench headline queries — or any
explicitly named registered query — to OUT_DIR/<query>.txt.

Usage: python tools/plandump.py OUT_DIR [query ...]
Default sf dir: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1.
Eager-materializing queries (ll*/d2/d3/dec1/bm25) are rendered through
their ``eager=False`` lazy form where the callable supports it, so the
plan shows the real composed scan/shuffle shape rather than a
post-checkpoint stub (the explain_audit.py convention). For a
before/after comparison, dump each side into its own OUT_DIR.
"""
from __future__ import annotations

import inspect
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contextlib import redirect_stdout

from data_transform_make_spark import corpus  # noqa: E402
from data_transform_make_spark.session import get_spark  # noqa: E402

import bench  # noqa: E402


def main(argv: list) -> int:
    if not argv:
        raise SystemExit("usage: plandump.py OUT_DIR [query ...]")
    out_dir, names = argv[0], argv[1:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plandump")
    qs = corpus.queries()
    for name in names:
        fn = qs[name]
        kwargs = {}
        if "eager" in inspect.signature(fn).parameters:
            kwargs["eager"] = False
        df = fn(spark, sf_dir, **kwargs)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
