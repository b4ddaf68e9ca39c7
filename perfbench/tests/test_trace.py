"""Span arithmetic and the status-store bookkeeping, on synthetic data."""

import pytest

from perfbench.trace import Span, Tracer, busy_seconds, layer_totals, self_times


def tree():
    # corpus [0, 10] -> loader [1, 2], dedup [3, 8] -> dedup [4, 6]; action [10, 12]
    return [
        Span(1, "corpus", 0.0, 10.0, None, 1),
        Span(2, "sources.loader", 1.0, 2.0, 1, 1),
        Span(3, "operators.dedup", 3.0, 8.0, 1, 1),
        Span(4, "operators.dedup", 4.0, 6.0, 3, 1),
        Span(5, "action", 10.0, 12.0, None, 1),
    ]


def test_self_time_subtracts_direct_children_only():
    assert self_times(tree()) == {1: 4.0, 2: 1.0, 3: 3.0, 4: 2.0, 5: 2.0}


def test_layer_totals_sum_self_time_and_count_calls():
    t = layer_totals(tree())
    assert t["operators.dedup"] == {"calls": 2, "self_s": 5.0}
    assert t["corpus"] == {"calls": 1, "self_s": 4.0}
    # self times add back up to the wall time of the roots
    assert sum(v["self_s"] for v in t.values()) == pytest.approx(12.0)


def test_busy_seconds_is_the_union_of_job_intervals():
    assert busy_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert busy_seconds([]) == 0.0


def test_tracer_records_nested_spans_only_while_enabled():
    tr = Tracer()
    with tr.span("corpus"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("corpus"):
        with tr.span("sources.loader"):
            pass
    inner, outer = tr.spans
    assert (inner.name, inner.parent) == ("sources.loader", outer.id)
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end
