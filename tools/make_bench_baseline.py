"""Recompute docs/BENCH_BASELINE.json from a bench.py output line.

Usage:
    python tools/make_bench_baseline.py <bench.json> --source "note" [--isolated [sf_dir]]
    python tools/make_bench_baseline.py <bench.json> --source "note" --reisolate q1,q2 [sf_dir]
    python tools/make_bench_baseline.py --isolated-one <query> <sf_dir>   (internal)

``--reisolate`` carries the PREVIOUS baseline's isolated entries forward
and re-measures only the named queries — for rounds where a couple of
plans changed but the rest of the isolated record (a quiet-machine
artifact that takes ~10 min to re-earn) is still like-with-like valid.

The baseline file drives tools/bench_regression.py. It holds, per query:

- ``queries`` / ``extended_queries``: warm medians recomputed from the
  bench line's ``warm_samples_sec`` (NOT the line's own medians — the
  recompute is the audit that the medians match their samples). bench.py
  caps that array at 9; where the line's ``warm_run_count`` says more runs
  were taken, the recompute covers only the tail and a warning names the
  query;
- ``iqr_sec`` / ``extended_iqr_sec``: warm IQRs, same recompute;
- ``isolated_sec`` / ``isolated_iqr_sec`` (with ``--isolated``): a
  median + IQR measured the way the tripwire's SECOND STRIKE measures —
  a FRESH Spark JVM per query (own subprocess), 1 cold + 9 warm runs,
  median/IQR of the warm 9. r7 ADVICE: isolated walls run ~0.2-0.4 s
  faster than in-suite ones, so a second strike that compares an
  isolated re-measure against an IN-SUITE baseline systematically
  clears real regressions smaller than that margin; recording an
  isolated baseline per query makes the second strike like-with-like.

Each isolated child is its own process so no JVM/codegen/Arrow-worker
state leaks between queries — exactly the state a second-strike
confirmation session starts from.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "docs", "BENCH_BASELINE.json")
ISOLATED_RUNS = 10  # 1 cold (dropped) + 9 warm — the second strike's protocol


def _med_iqr(samples: list[float]) -> tuple[float, float]:
    s = sorted(samples)
    q = statistics.quantiles(s, n=4, method="inclusive")
    return round(statistics.median(s), 3), round(q[2] - q[0], 3)


def truncated_sample_warnings(line: dict) -> list[str]:
    """One warning per query whose ``warm_run_count`` exceeds the samples
    the line carries (bench.py's 9-sample cap bound). Lines older than
    the count key give no warning."""
    out = []
    for sec, cnt in (
        ("warm_samples_sec", "warm_run_count"),
        ("extended_warm_samples_sec", "extended_warm_run_count"),
    ):
        for name, n in sorted(line.get(cnt, {}).items()):
            kept = len(line.get(sec, {}).get(name, []))
            if n > kept:
                out.append(
                    f"make-bench-baseline: WARNING {name}: {n} warm runs, only the last "
                    f"{kept} samples stored; its median/IQR is recomputed over that tail"
                )
    return out


def _isolated_one(name: str, sf_dir: str) -> None:
    """Child mode: measure ONE query in this fresh process, print JSON."""
    import time

    sys.path.insert(0, REPO)
    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import (
        get_spark,
        release_persistent_rdds,
    )

    spark = get_spark("bench-baseline-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    spec = all_queries()[name]
    walls: list[float] = []

    def one_run() -> None:
        t0 = time.perf_counter()
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
        release_persistent_rdds(spark)

    for _ in range(ISOLATED_RUNS):
        one_run()
    # Decay extension (r10): on a cold-cache/JIT-slope session (an r10
    # load storm showed fresh-JVM probes starting 5-10x slow and decaying
    # monotonically past run 9 — docs_lrs warm-9 median 8.567 vs a 20-run
    # plateau of 1.85), the warm-9 samples all sit on the slope and carry
    # no steady-state information. While the last-3 median is still
    # dropping >15 % vs the previous-3 window (the implemented rule below;
    # ADVICE r10 flagged that this comment used to describe a different
    # ">25 % vs the first-3" criterion), keep running (cap 24 warm) so the
    # samples TAIL reaches the plateau bench_regression's
    # steady-tail verdict reads. ``median`` stays the warm-9 median —
    # every recorded isolated baseline keeps its like-with-like meaning;
    # quiet-box probes are flat by run 3 and never extend.
    def _m3(xs: list[float]) -> float:
        return sorted(xs)[1]

    # extend while the last-3 median is still dropping >15 % vs the
    # previous 3 (a flat probe fails this immediately; a decaying one
    # runs until its tail levels off or the cap)
    while len(walls) - 1 < 24 and _m3(walls[-3:]) < 0.85 * _m3(walls[-6:-3]):
        one_run()
    med, iqr = _med_iqr(walls[1:ISOLATED_RUNS])
    print(json.dumps({"name": name, "median": med, "iqr": iqr, "samples": walls}))


def _measure_isolated(names: list[str], sf_dir: str) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--isolated-one", name, sf_dir],
            capture_output=True,
            text=True,
            check=True,
        )
        rec = json.loads(proc.stdout.strip().splitlines()[-1])
        out[name] = rec
        print(
            f"make-bench-baseline: isolated {name}: median {rec['median']:.3f}s "
            f"iqr {rec['iqr']:.3f}s",
            file=sys.stderr,
        )
    return out


def main() -> int:
    argv = sys.argv[1:]
    if argv and argv[0] == "--isolated-one":
        _isolated_one(argv[1], argv[2])
        return 0

    src = argv[0] if argv and not argv[0].startswith("--") else "/tmp/bench_gate.json"
    source_note = ""
    isolated = False
    reisolate: list[str] = []
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    i = 0
    while i < len(argv):
        if argv[i] == "--source":
            source_note = argv[i + 1]
            i += 2
        elif argv[i] == "--isolated":
            isolated = True
            if i + 1 < len(argv) and not argv[i + 1].startswith("--"):
                sf_dir = argv[i + 1]
                i += 1
            i += 1
        elif argv[i] == "--reisolate":
            if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
                raise SystemExit("--reisolate requires a comma-separated query list")
            reisolate = [q for q in argv[i + 1].split(",") if q]
            i += 2
            if i < len(argv) and not argv[i].startswith("--"):
                sf_dir = argv[i]
                i += 1
        else:
            i += 1

    with open(src) as f:
        line = json.loads(f.read().strip().splitlines()[-1])

    for w in truncated_sample_warnings(line):
        print(w, file=sys.stderr)
    base: dict = {"sf": line.get("sf", 0.1)}
    for sec, med_key, iqr_key in (
        ("warm_samples_sec", "queries", "iqr_sec"),
        ("extended_warm_samples_sec", "extended_queries", "extended_iqr_sec"),
    ):
        meds, iqrs = {}, {}
        for name, samples in sorted(line.get(sec, {}).items()):
            meds[name], iqrs[name] = _med_iqr([float(x) for x in samples])
        base[med_key], base[iqr_key] = meds, iqrs

    if isolated:
        names = sorted(base["queries"]) + sorted(base["extended_queries"])
        iso = _measure_isolated(names, sf_dir)
        base["isolated_sec"] = {n: iso[n]["median"] for n in iso}
        base["isolated_iqr_sec"] = {n: iso[n]["iqr"] for n in iso}
        base["isolated_protocol"] = (
            f"fresh JVM subprocess per query, {ISOLATED_RUNS} runs, "
            "median/IQR of warm 9 (second-strike protocol), sf_dir=" + sf_dir
        )
    elif reisolate:
        with open(BASELINE) as f:
            prev = json.load(f)
        # carry forward only entries for queries that still exist in the new
        # bench line — a removed/renamed query must not keep a stale isolated
        # baseline alive indefinitely (ADVICE r9)
        live = set(base["queries"]) | set(base["extended_queries"])
        kept_sec = {n: v for n, v in prev.get("isolated_sec", {}).items() if n in live}
        kept_iqr = {n: v for n, v in prev.get("isolated_iqr_sec", {}).items() if n in live}
        iso = _measure_isolated(sorted(reisolate), sf_dir)
        for n, rec in iso.items():
            kept_sec[n] = rec["median"]
            kept_iqr[n] = rec["iqr"]
        base["isolated_sec"] = kept_sec
        base["isolated_iqr_sec"] = kept_iqr
        base["isolated_protocol"] = (
            prev.get("isolated_protocol", "")
            + f"; reisolated {sorted(reisolate)} sf_dir={sf_dir}"
        )

    base["source"] = source_note or f"recomputed from {src}"
    with open(BASELINE, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"make-bench-baseline: wrote {BASELINE}")
    print(
        "  headline total "
        f"{round(sum(base['queries'].values()), 3)}s, extended "
        f"{round(sum(base['extended_queries'].values()), 3)}s"
        + (
            f", isolated total {round(sum(base['isolated_sec'].values()), 3)}s"
            if isolated
            else ""
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
