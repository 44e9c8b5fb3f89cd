"""Dump `.explain("formatted")` for registered queries, one file per query.

Run it once on each of two checkouts and `diff -r` the two output
directories: the ids a build draws from session-wide counters are
renumbered on write (``normalize``), so the diff is empty exactly when the
physical plans match.

Usage: python tools/explain_snapshot.py <sf_dir> <outdir> [name ...]
  With no names, snapshots every registered query.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Session-counter ids: expression ids `#N`, exchange `[plan_id=N]`, the RDD
# id of a checkpointed scan (`MapPartitionsRDD[N]`) and PySpark lambda
# variables (`x_N`). An HTML entity literal such as `&#39;` is not an id.
_SESSION_IDS = [
    re.compile(r"(?P<pre>(?<!&)#)(?P<n>\d+)"),
    re.compile(r"(?P<pre>\[plan_id=)(?P<n>\d+)"),
    re.compile(r"(?P<pre>RDD\[)(?P<n>\d+)"),
    re.compile(r"(?P<pre>\blambda [a-z]+_)(?P<n>\d+)"),
]


def normalize(plan: str) -> str:
    """Renumber each kind of session-counter id in order of first
    appearance. Two builds of one plan then print the same text, while
    distinct ids stay distinct and every other character is kept."""
    for pattern in _SESSION_IDS:
        seen: dict[tuple[str, str], int] = {}

        def renumber(m: re.Match) -> str:
            key = (m["pre"], m["n"])
            return f"{m['pre']}{seen.setdefault(key, len(seen))}"

        plan = pattern.sub(renumber, plan)
    return plan


def main() -> None:
    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1]
    outdir = Path(sys.argv[2])
    outdir.mkdir(parents=True, exist_ok=True)
    names = sys.argv[3:]

    spark = get_spark("explain-snapshot")
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_queries()
    if names:
        specs = {n: specs[n] for n in names}
    failed = []
    for name in sorted(specs):
        try:
            df = specs[name].build(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            (outdir / f"{name}.txt").write_text(normalize(buf.getvalue()))
        except Exception as e:  # streaming/env-gated queries may not build here
            failed.append((name, repr(e)))
    if failed:
        sys.stderr.write("SKIPPED (build failed):\n")
        for name, err in failed:
            sys.stderr.write(f"  {name}: {err[:200]}\n")
    print(f"wrote {len(specs) - len(failed)}/{len(specs)} plans to {outdir}")


if __name__ == "__main__":
    main()
