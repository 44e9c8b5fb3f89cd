"""tools/explain_snapshot.py without Spark: the id normalization."""

from __future__ import annotations

from tools.explain_snapshot import normalize

PLAN = """\
(3) Scan ExistingRDD
Output [2]: [id#{a}L, sig#{b}]
Arguments: [id#{a}L, sig#{b}], MapPartitionsRDD[{r}] at localCheckpoint, ExistingRDD
(4) Project
Output [1]: [transform(sig#{b}, lambdafunction((lambda x_{x}#{c}L + 1), lambda x_{x}#{c}L, false)) AS s#{d}]
(5) Exchange
Arguments: {part}, REPARTITION_BY_NUM, [plan_id={p}]
"""


def test_session_ids_vanish():
    first = PLAN.format(a=11, b=12, c=7, d=30, r=10, x=1, p=163, part="RoundRobinPartitioning(4)")
    second = PLAN.format(a=73, b=74, c=9, d=92, r=22, x=5, p=353, part="RoundRobinPartitioning(4)")
    assert first != second
    assert normalize(first) == normalize(second)
    out = normalize(first)
    assert "#0L" in out and "#1]" in out
    assert "MapPartitionsRDD[0]" in out and "[plan_id=0]" in out and "lambda x_0#" in out


def test_distinct_ids_stay_distinct():
    # sig#12 and sig#13 are different attributes; renumbering keeps them apart
    out = normalize("Input [2]: [sig#12, sig#13]\nOutput [1]: [sig#12]")
    assert out == "Input [2]: [sig#0, sig#1]\nOutput [1]: [sig#0]"


def test_real_difference_survives():
    four = PLAN.format(a=11, b=12, c=7, d=30, r=10, x=1, p=163, part="RoundRobinPartitioning(4)")
    eight = PLAN.format(a=73, b=74, c=9, d=92, r=22, x=5, p=353, part="RoundRobinPartitioning(8)")
    assert normalize(four) != normalize(eight)
    assert "RoundRobinPartitioning(8)" in normalize(eight)
