"""Interleaved A/B of one registered query against a candidate builder.

Usage: python tools/ab.py <sf_dir> <query> <file.py:function>

A is ``all_queries()[query].build``; B is ``function(spark, sf_dir) ->
DataFrame`` loaded from ``file.py``, so a prototype can live in a scratch
file (an A/A run names a module function that returns A's plan).

Protocol, the same for every experiment:
1. Identity gate: both sides are collected once and compared with
   ``tools/verify_all.canon_rows_spark`` (the oracle sweep's canon) plus
   their sorted column names. Different rows exit 1 before any timing.
2. One untimed warm-up per side, then PAIRS pairs, alternating which
   side runs first.
3. A sample times ``build()`` plus a noop write, as ``bench.py`` does, so
   eager ``localCheckpoint`` jobs run at plan build are inside the timer;
   ``release_persistent_rdds`` runs outside it.

Prints one JSON line: defaultParallelism, SPARK_GRAFT_CPUS, 1-minute load
before and after, each side's samples, median and quartiles, B's win
count (ties count for neither side) and ``claim_holds``: B won at least
nine tenths of the pairs and A's median exceeds B's by more than A's
interquartile range (the choosing-metrics claim rule).
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PAIRS = 10


class RowsDiffer(Exception):
    """The two sides return different rows; nothing was timed."""


def summarize(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {
        "samples": [round(x, 4) for x in xs],
        "median": round(med, 4),
        "q1": round(q1, 4),
        "q3": round(q3, 4),
    }


def verdict(a: list[float], b: list[float]) -> dict:
    wins = sum(y < x for x, y in zip(a, b))
    q1, med_a, q3 = statistics.quantiles(a, n=4, method="inclusive")
    gap, iqr_a = med_a - statistics.median(b), q3 - q1
    return {
        "a": summarize(a),
        "b": summarize(b),
        "b_wins": wins,
        "pairs": len(a),
        "claim_holds": 10 * wins >= 9 * len(a) and gap > iqr_a,
    }


def measure(
    rows: Callable[[Callable], list[str]],
    timed: Callable[[Callable], float],
    a: Callable,
    b: Callable,
) -> dict:
    """Identity gate, warm-up, then PAIRS alternating pairs of the
    builders ``a`` and ``b``. ``rows(build)`` returns a header line naming
    the columns, then the canonical rows; ``timed(build)`` one sample."""
    ra, rb = rows(a), rows(b)
    if ra != rb:
        only_a, only_b = sorted(set(ra) - set(rb)), sorted(set(rb) - set(ra))
        raise RowsDiffer(
            f"A {len(ra) - 1} rows, B {len(rb) - 1} rows;"
            f" only A: {only_a[:3]} only B: {only_b[:3]}"
        )
    timed(a), timed(b)
    sa: list[float] = []
    sb: list[float] = []
    for i in range(PAIRS):
        for build, out in ((a, sa), (b, sb))[:: 1 if i % 2 == 0 else -1]:
            out.append(timed(build))
    return {"rows": len(ra) - 1, **verdict(sa, sb)}


def load_builder(target: str) -> Callable:
    path, _, func = target.rpartition(":")
    if not path or not func:
        raise SystemExit(f"B must be <file.py:function>, got {target!r}")
    spec = importlib.util.spec_from_file_location(Path(path).stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, func)


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.splitlines()[2], file=sys.stderr)
        return 2
    sf_dir, query, target = argv
    build_b = load_builder(target)

    from tools.verify_all import canon_rows_spark
    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import (
        get_spark,
        release_persistent_rdds,
    )

    build_a = all_queries()[query].build
    load_before = os.getloadavg()[0]
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    def rows(build: Callable) -> list[str]:
        df = build(spark, sf_dir)
        out = [",".join(sorted(df.columns)), *canon_rows_spark(df.collect(), df.columns)]
        release_persistent_rdds(spark)
        return out

    def timed(build: Callable) -> float:
        t0 = time.perf_counter()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        release_persistent_rdds(spark)
        return wall

    try:
        result = measure(rows, timed, build_a, build_b)
    except RowsDiffer as e:
        print(f"ab: rows differ, nothing timed: {e}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "query": query,
                "b_builder": target,
                "sf_dir": sf_dir,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "load_1m_before": round(load_before, 2),
                "load_1m_after": round(os.getloadavg()[0], 2),
                **result,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
