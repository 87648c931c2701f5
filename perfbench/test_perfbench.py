"""The benchmark's own checks, without Spark:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import pyarrow as pa

import queries
import workloads as W
from spans import Tracer


def test_wrong_answer_and_exception_count_as_failures():
    client = W.Client(Tracer(False))

    def boom():
        raise RuntimeError("worker died")

    client.op("ok", lambda: 1, lambda got: got == 1, "op.ok")
    client.op("wrong", lambda: 2, lambda got: got == 1, "op.wrong")
    client.op("raises", boom, lambda got: True, "op.raises")
    client.op("bad_check", lambda: 1, lambda got: got["x"], "op.bad_check")
    assert (client.attempted, client.failed) == (4, 3)
    assert sorted(client.lat) == ["bad_check", "ok", "wrong"]
    assert any("wrong answer" in e for e in client.errors)


def test_loop_runs_a_whole_cycle_and_keeps_going_after_failures():
    client = W.Client(Tracer(False))

    def ops(i):
        return [("even", None, lambda: i, lambda got: got % 2 == 0, "op.x"),
                ("one", None, lambda: 1, lambda got: got == 1, "op.y")]

    lat = W.loop(client, ops, 0.0)
    assert {k: len(v) for k, v in lat.items()} == {"even": 1, "one": 1}
    lat = W.loop(client, ops, 0.05)
    assert client.failed >= 1 and client.attempted > client.failed
    assert len(lat["even"]) >= 2  # the second loop's own samples only


def test_kind_gmean_weighs_kinds_equally():
    assert abs(W.kind_gmean({"a": [1.0, 1.0, 1.0], "b": [4.0]}) - 2.0) < 1e-12


def test_query_check_rejects_a_wrong_table():
    q = queries.Query("scan", "", lambda s: None, queries.table_canon,
                      queries.table_canon)
    good = pa.table({"k": [3, 1, 2], "v": [0.5, -0.0, 2.0]})
    q.want = queries.table_canon(good)
    assert queries.check(q, good.take([2, 0, 1]), 3)
    bad = pa.table({"k": [3, 1, 2], "v": [0.5, 0.0, 2.0]})  # -0.0 lost
    assert not queries.check(q, bad, 3)


def test_explain_bill_must_cover_the_answer():
    q = queries.Query("explain", "", lambda s: None, lambda b: b, None)
    q.want = ((10,),)
    bill = {"rows_total": 100, "blocks_total": 4, "blocks_pruned": 3,
            "blocks_full": 0, "blocks_partial": 1, "rows_surviving": 25}
    assert queries.check(q, bill, 100)
    assert not queries.check(q, {**bill, "rows_surviving": 5}, 100)
    assert not queries.check(q, {**bill, "blocks_pruned": 4,
                                 "blocks_partial": 0}, 100)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    pct, tail = W.percentile_tail(xs)
    assert pct == 75.0 and sum(x > tail for x in xs) == 10
    assert W.percentile_tail(xs[:10]) == (None, None)


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("parent"):
        with t.span("child"):
            sum(range(10_000))
    own = t.self_times()
    whole, child = (s["end"] - s["start"] for s in t.spans)
    assert abs(own["parent"] - (whole - child)) < 1e-9


def test_trace_overhead_is_span_cost_over_traced_wall():
    t = Tracer(True)
    with t.span("root"):
        for _ in range(1000):
            with t.span("child"):
                pass
    pct = t.overhead_pct(n=2000)
    # 1,001 spans cover the whole root span: tracing is most of its wall
    assert 10.0 < pct < 1000.0
