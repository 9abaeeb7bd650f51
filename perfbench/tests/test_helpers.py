"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.common import Ctx, value_hash
from perfbench.queries import oracle_check
from perfbench.stats import tail, timing
from perfbench.trace import covered, parse_size_metric, self_times


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    v, pct, ok = tail(xs)
    assert ok
    assert v == 10.0 and pct == 50.0
    assert sum(x > v for x in xs) == 10
    v, pct, ok = tail([float(i) for i in range(1, 101)])
    assert (v, pct, ok) == (90.0, 90.0, True)


def test_tail_unsupported_below_eleven_samples():
    v, pct, ok = tail([3.0, 1.0, 2.0])
    assert (v, pct, ok) == (3.0, 100.0, False)
    v, _, ok = tail([float(i) for i in range(10)])
    assert not ok and v == 9.0
    assert tail([float(i) for i in range(11)])[2]
    t = timing([1.0, 2.0, 3.0])
    assert t["p50"] == 2.0 and t["n"] == 3 and not t["tail_supported"]
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_union_of_children():
    assert covered((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 6.0
    assert covered((0.0, 10.0), []) == 0.0
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 2, "start": 2.5, "end": 4.0},
        {"id": 4, "parent": 0, "start": 8.0, "end": 10.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.5)
    # top-level self time plus every child's duration accounts for the wall
    assert st[0] + 4.0 + 2.0 == pytest.approx(10.0)


def test_size_metric_parsing():
    text = "total (min, med, max (stageId: taskId))\n4.9 MiB (1246.1 KiB, 1.2 MiB, 1.3 MiB (stage 15.0: task 13))"
    assert parse_size_metric(text) == pytest.approx(4.9 * (1 << 20))
    assert parse_size_metric("1494.8 KiB") == pytest.approx(1494.8 * 1024)
    assert parse_size_metric(None) == 0.0


def _ctx() -> Ctx:
    return Ctx(spark=None, tracer=None, seed=0, seconds=1.0, work="", jvm_pid=0, session_start_s=0.0)


def test_value_hash_is_order_insensitive():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    assert value_hash(["k", "s", "x"], rows) == value_hash(["s", "k", "x"], [(r[1], r[0], r[2]) for r in reversed(rows)])
    assert value_hash(["k"], [(1,)]) != value_hash(["k"], [(2,)])


def test_wrong_query_result_fails_the_oracle_check():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10.0), (2, 20.5)) v(k, x)")
    sql = "SELECT k, x FROM t"
    ctx = _ctx()
    assert oracle_check(ctx, "right", ["k", "x"], [(2, 20.5), (1, 10.0)], con, sql)
    assert not oracle_check(ctx, "wrong value", ["k", "x"], [(1, 10.0), (2, 20.6)], con, sql)
    assert not oracle_check(ctx, "missing row", ["k", "x"], [(1, 10.0)], con, sql)
    assert not oracle_check(ctx, "wrong column", ["k", "y"], [(1, 10.0), (2, 20.5)], con, sql)
    assert (ctx.attempted, ctx.failed) == (4, 3)
    assert ctx.problems[0].startswith("wrong value")
