"""Rule-based row validation producing ``(passed, reason, message)``.

Reference parity (validator.py:48-96): each field has an if/elif chain of
rules; a failing row's ``reason`` is the code of the FIRST failing rule in
declaration order and ``message`` concatenates ALL failure messages with a
single space. The rebuild evaluates every rule as one native ``when()``
expression per rule, collects non-null failures with ``array_compact`` and
derives reason/message with array ops — a single projection, no UDFs, no
extra pass.

The article rule set (exact reference semantics) lives in
``domains/articles.py``; this module is the generic engine so other domains
(e.g. the ``documents`` table) declare their own rule lists.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Rule:
    """One validation rule. ``predicate`` is TRUE when the rule FAILS.

    Rules are evaluated in list order; make predicates within a field
    mutually exclusive to reproduce if/elif chains.
    """

    code: str
    predicate: Column
    message: Column


def failure_rule(code: str, predicate: Column, message: Column | str) -> Rule:
    msg = F.lit(message) if isinstance(message, str) else message
    return Rule(code=code, predicate=predicate, message=msg)


def validation_columns(rules: list[Rule]) -> dict[str, Column]:
    """Build the ``failures`` array plus derived passed/reason/message."""
    structs = [
        F.when(r.predicate, F.struct(F.lit(r.code).alias("code"), r.message.alias("msg")))
        for r in rules
    ]
    failures = F.array_compact(F.array(*structs))
    passed = F.size(failures) == 0
    reason = F.when(~passed, failures[0]["code"])
    message = F.when(~passed, F.concat_ws(" ", F.transform(failures, lambda s: s["msg"])))
    return {"passed": passed, "reason": reason, "message": message}


def with_validation(df: DataFrame, rules: list[Rule]) -> DataFrame:
    cols = validation_columns(rules)
    return df.withColumns(cols)


def passed_expr(rules: list[Rule]) -> Column:
    """``passed`` alone, without building the failure structs.

    ``validation_columns``'s ``passed`` is ``size(failures) == 0``, which
    forces codegen of every rule's MESSAGE expression (format_string /
    concat chains inside the structs) even when the consumer only reads the
    boolean — Catalyst cannot prune subtrees of a needed expression. For
    counting/filtering consumers (the funnel's n_valid) this form generates
    only the predicates. A rule "fires" in ``validation_columns`` iff its
    predicate is literally TRUE (``when`` treats NULL as not-fired), so the
    exact equivalent is the negated disjunction of null-safe TRUE tests.
    """
    fired = [r.predicate.eqNullSafe(F.lit(True)) for r in rules]
    out = fired[0]
    for f in fired[1:]:
        out = out | f
    return ~out
