"""Span bookkeeping: self time, per-name totals, tracing overhead."""

import time

import pytest

from spans import Span, Tracer, layer_shares, layer_totals, self_time


def test_self_time_subtracts_children():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 4.0, 6.0), Span(3, "c", 0, 8.0, 9.0)]
    assert self_time(parent, kids) == pytest.approx(10 - 6)
    assert self_time(parent, []) == pytest.approx(10)


def test_disabled_tracer_records_nothing_but_accepts_attributes():
    tr = Tracer(enabled=False)
    with tr.span("x") as a:
        a["rows"] = 3
    assert tr.spans == []
    assert tr.overhead_s == 0.0


def test_enabled_tracer_counts_its_own_time_as_overhead():
    tr = Tracer(enabled=True)
    with tr.span("x"):
        time.sleep(0.05)
    spent = tr.overhead_s
    assert 0.0 < spent < 0.05
    with tr.bookkeeping():
        time.sleep(0.02)
    assert tr.overhead_s >= spent + 0.02


def test_enabled_tracer_nests_and_totals_inclusively():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("etl.clean") as a:
            a["rows"] = 10
        with tr.span("etl.clean.exec"):
            with tr.span("sources.write") as w:
                w["bytes"] = 100
        with tr.span("etl.clean") as a:
            a["rows"] = 5
    op, c1, ex, wr, c2 = tr.spans
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2, 0]
    assert tr.roots() == [op]
    assert tr.subtree(ex) == [ex, wr]
    # Job counts as the status tracker would have attributed them.
    for s, jobs in ((op, 1), (c1, 0), (ex, 2), (wr, 3), (c2, 0)):
        s.attrs.update(own_jobs=jobs, own_stages=jobs, own_tasks=2 * jobs, own_failed_tasks=0)
    totals = layer_totals(tr, [op])
    assert totals["etl.clean"]["calls"] == 2
    assert totals["etl.clean"]["rows"] == 15
    assert totals["etl.clean.exec"]["jobs"] == 5  # own 2 + child 3
    assert totals["op"]["jobs"] == 6
    assert totals["op"]["tasks"] == 12
    assert totals["sources.write"]["bytes"] == 100
    kids = [c1, ex, c2]
    assert totals["op"]["self_s"] == pytest.approx(self_time(op, kids))
    assert totals["etl.clean.exec"]["self_s"] == pytest.approx(ex.duration - wr.duration)


def test_layer_shares_count_direct_children_by_layer():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "etl.clean.exec", 0, 0.0, 4.0),
        Span(2, "sources.write", 1, 1.0, 3.0),  # inside etl: not counted again
        Span(3, "queries.q51", 0, 4.0, 5.0),
        Span(4, "queries.q51.exec", 0, 5.0, 9.0),
    ]
    shares = layer_shares(tr, [tr.spans[0]])
    assert shares == pytest.approx({"etl": 0.4, "queries": 0.5})
