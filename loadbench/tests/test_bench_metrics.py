"""The tail-percentile rule, the kind-weighted median and failure counting."""

import pytest

from loadbench.check import canonical, same_result
from loadbench.metrics import Op, fail_count, fail_ratio, latency_summary, tail
from loadbench.workloads import TpchMix


def _op(i, kind="q", lat=1.0, **kw):
    return Op(f"op{i}", "tpch_q1", kind, lat, **kw)


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, n = tail([float(v) for v in range(11, 0, -1)])
    assert (value, n) == (1.0, 11)
    assert round(pct, 3) == round(100 / 11, 3)


def test_tail_with_too_few_samples_falls_back_to_median():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([]) == (0.0, 50.0, 0)


def test_p50_weighs_op_kinds_equally():
    few_slow = [_op(i, "fle", 2.0) for i in range(3)]
    many_fast = [_op(i, "parquet", 0.5) for i in range(9)]
    mixed = latency_summary(few_slow + many_fast, wall_s=1.0)
    assert mixed["latency_p50_s"] == pytest.approx(1.0)  # sqrt(2.0 * 0.5)
    assert mixed["kinds"] == {"fle": (2.0, 3), "parquet": (0.5, 9)}
    assert latency_summary(many_fast, wall_s=1.0)["latency_p50_s"] == 0.5


def test_fail_ratio_counts_errors_and_wrong_answers_once():
    ops = [
        _op(0),
        _op(1, error="boom"),
        _op(2, wrong=True),
        _op(3, error="boom", wrong=True),
    ]
    assert fail_count(ops) == 3
    assert fail_ratio(ops) == 0.75
    assert fail_ratio([]) == 0.0


def test_failed_ops_are_left_out_of_latency():
    ops = [_op(0, lat=1.0), _op(1, lat=9.0, error="boom"), _op(2, lat=3.0)]
    s = latency_summary(ops, wall_s=2.0)
    assert s["latency_p50_s"] == 2.0
    assert s["ops_per_s"] == 1.0


def test_gate_marks_a_wrong_answer_as_failed():
    w = TpchMix.__new__(TpchMix)
    good = canonical(["n", "revenue"], [(3, 1.5)])
    w.expected = {"tpch_q1": good}
    ops = [
        _op(0, result=canonical(["revenue", "n"], [(1.5, 3)])),   # column order
        _op(1, result=canonical(["n", "revenue"], [(3, 1.5 * (1 + 1e-12))])),
        _op(2, result=canonical(["n", "revenue"], [(4, 1.5)])),   # wrong count
        _op(3, result=canonical(["n", "revenue"], [])),           # missing row
    ]
    problems = w.check(ops)
    assert [o.wrong for o in ops] == [False, False, True, True]
    assert len(problems) == 2
    assert fail_ratio(ops) == 0.5


def test_same_result_reports_differences():
    a = canonical(["x"], [(1,), (2,)])
    assert same_result(a, canonical(["x"], [(2,), (1,)])) is None
    assert "row count" in same_result(a, canonical(["x"], [(1,)]))
    assert "columns" in same_result(a, canonical(["y"], [(1,), (2,)]))
