"""Expression-level let-binding (review, round 11).

Spark evaluates higher-order functions interpreted (CodegenFallback) with
NO common-subexpression elimination: an expression referenced k times in
a tree is evaluated k times, and — much worse — a free expression
captured inside a HOF lambda body is re-evaluated once PER ELEMENT the
lambda runs over. ``shingles`` captured the tokenize subtree inside its
per-window ``transform`` lambda: a 200-token document re-ran
trim+lower+split ~200 times per row.

HOF lambda parameters are the one true let-binding Spark expressions
offer: the HOF evaluates its input ONCE and hands the lambda a bound
value. :func:`let` packages that — wrap the expensive expression as a
one-element array, apply the body via ``transform``, take element 0.

Measured (same-session interleaved A/B at sf0.1):
shingles 4.62 → 0.56 s (8.3×); the quality-gate pair
(quality_score + lang_id) 2.22 → 0.99 s; outputs bitwise identical —
the binding changes WHERE a value is computed, never what is computed.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``let bound = value in body(bound)`` for Column expressions.

    ``value`` is evaluated exactly once per row; ``body`` receives it as
    a bound lambda variable it may reference any number of times (and
    inside nested HOF lambdas) for free. NULL ``value`` reaches the body
    as NULL — ``F.array(NULL)`` is a one-element array holding NULL — so
    NULL semantics are identical to the unbound expression.

    PLAN-PIN CONVENTION (round 12): the binding is only real while
    Catalyst declines to rewrite ``transform(array(x), f)[0]`` into
    ``f(x)`` — a future Spark version adding that (locally reasonable)
    rewrite would re-inline the bound value into every reference and
    silently undo the win at every call site at once. Every HOT-PATH
    ``let`` call site must therefore ship with a plan-pin test: build a
    minimal projection through the site and assert, via
    :func:`optimized_plan`, that the bound value's signature expression
    appears exactly the bound number of times (the
    ``tests/test_expr_let.py::test_let_binding_survives_the_optimizer``
    / ``tests/test_ivf_partition_pruning.py::
    test_ivf_vv_hoist_not_collapsed_back`` pattern, with the unbound
    form as a >1 control where cheap). A site without a pin re-opens
    the hole for that site only — the generic transform-survival pin
    here does not cover rewrites that fire on shapes a specific site
    introduces.
    """
    return F.transform(F.array(value), body)[0]


def optimized_plan(df: DataFrame) -> str:
    """Stringified Catalyst-optimized logical plan — the one-line
    primitive every let/hoist plan pin asserts against (see the
    PLAN-PIN CONVENTION in :func:`let`). Private-API use is deliberate
    and confined here: if a Spark upgrade moves ``queryExecution``,
    every pin fails loudly in this single helper instead of five tests
    re-deriving the incantation."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def executed_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Stringified EXECUTED plan (physical, AQE-final) — the sibling of
    :func:`optimized_plan` for pins that must read the plan that actually
    ran: exchange reuse (``ReusedExchange``), codegen spans, runtime join
    selections. The caller is responsible for executing the DataFrame
    first when it wants the AQE-final shape (an unexecuted query prints
    the initial plan). Same single-choke-point rationale as
    :func:`optimized_plan`: the ``PythonSQLUtils.explainString``
    incantation lives ONLY here, so a Spark API move fails loudly in one
    helper instead of three call sites re-deriving it (advice, round 12).

    Note the audit caveat that travels with this output: AQE ``explain``
    prints initial + final sections, so a scan under a
    ``BroadcastQueryStage`` appears twice — scan COUNTS over this string
    overcount relative to ``executedPlan().toString()``.
    """
    return df.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
