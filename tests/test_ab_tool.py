"""tools/ab.py without Spark: the claim rule and the identity gate."""

from __future__ import annotations

import pytest

from tools import ab

A = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def test_claim_holds_at_nine_of_ten_separated_wins():
    b = [x - 0.2 for x in A]
    b[0] = A[0] + 0.1  # one loss
    v = ab.verdict(A, b)
    assert v["b_wins"] == 9 and v["pairs"] == 10
    assert v["claim_holds"]


def test_claim_fails_at_eight_of_ten_wins():
    b = [x - 0.2 for x in A]
    b[0], b[1] = A[0] + 0.1, A[1] + 0.1
    v = ab.verdict(A, b)
    assert v["b_wins"] == 8
    assert not v["claim_holds"]


def test_claim_fails_when_gap_inside_a_iqr():
    b = [x - 0.001 for x in A]  # wins every pair by less than A's spread
    v = ab.verdict(A, b)
    assert v["b_wins"] == 10
    assert not v["claim_holds"]


def test_identity_gate_refuses_before_any_timing():
    timed = []

    def clock(side: str) -> float:
        timed.append(side)
        return 1.0

    rows = {"a": ["k", "1,a"], "b": ["k", "1,b"]}.get
    with pytest.raises(ab.RowsDiffer):
        ab.measure(rows, clock, "a", "b")
    assert timed == []


def test_pairs_alternate_after_warmup():
    order = []

    def clock(side: str) -> float:
        order.append(side)
        return 1.0

    out = ab.measure(lambda side: ["k", "1,a"], clock, "a", "b")
    assert order[:6] == ["a", "b", "a", "b", "b", "a"]
    assert order[2::2] == ["a", "b"] * 5  # first of each pair alternates
    assert out["rows"] == 1 and len(out["a"]["samples"]) == out["pairs"] == 10
