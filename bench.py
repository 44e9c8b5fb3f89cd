"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end through the noop sink (materializes every
output column; no driver collect). One warm-up run of a trivial job first so
JVM/codegen startup is not attributed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf resolves stringified type hints here


def _load1m() -> float | None:
    """1-minute system load average, None off-Linux. Sampled around every
    query so the artifact of record is LOAD-AUDITABLE (r8: the driver's
    BENCH_r08.json was uniformly +15-30 % vs the gate bench minutes
    earlier — the box's external ~10-minute load cycle — and the only way
    to tell was cross-referencing the round log)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    # sampled BEFORE the Spark session exists: at this instant nothing of
    # ours is running, so a high reading is external load (or the decay
    # tail of whatever the caller ran just before — either way, a warning
    # that the suite starts in a non-quiet window)
    load_start = _load1m()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    spark = get_spark("ywx-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up execution machinery so one-time session costs are not
    # attributed to whichever query happens to run first: parquet reader,
    # shuffle + window codegen, the Python/Arrow worker pool (pandas UDFs
    # fork workers on first use, ~1-2 s), and broadcast plumbing. No query
    # results are cached — these run on spark.range, not the bench tables.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    r = spark.range(1000)
    w = Window.partitionBy(F.col("id") % 10).orderBy("id")
    r.withColumn("rn", F.row_number().over(w)).groupBy(F.col("id") % 7).count().write.format(
        "noop"
    ).mode("overwrite").save()

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s + 1

    r.select(_warm("id")).write.format("noop").mode("overwrite").save()
    r.join(
        F.broadcast(spark.range(10).withColumnRenamed("id", "k")), r.id % 10 == F.col("k")
    ).write.format("noop").mode("overwrite").save()

    # Protocol (hardened round 4 — the round-3 min-of-2 spread was ±6%
    # across the day, too noisy to adjudicate ±10% regressions): one COLD
    # run per query first (pays whole-stage-codegen compile, ~1-3 s per
    # distinct plan — a one-time cost amortized over hours at 100 TB;
    # recorded for transparency, excluded from the statistic), then
    # WARM_RUNS timed warm runs reporting the MEDIAN, with the IQR and the
    # raw per-run samples persisted so two bench invocations can be
    # compared within their own measured spread instead of a point guess.
    # warm-run count is env-tunable for BIG one-shot scale points (sf10:
    # each warm run costs minutes, and the cross-run variance the 5-run
    # median guards against is a sub-second phenomenon); the driver's
    # default stays 5
    WARM_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "5"))
    registry = all_queries()
    specs = {name: s for name, s in registry.items() if s.headline}
    # EXTENDED section (round 5): representatives of the post-r3 operator
    # waves — iterative graph and suffix-grain substring — benched under
    # the same median-of-N protocol but reported SEPARATELY so the
    # 12-query headline total stays comparable across rounds.
    # r11 ADDITIONS (keys only added, never removed/renamed — the bench
    # contract): the two operators round 11 rebuilt, so their walls are
    # measured by the driver itself from r11 on. extended_total_wall is
    # therefore NOT comparable to r10's (two new members); the per-query
    # keys are.
    EXTENDED = [
        "docs_lrs_capped",
        "graph_pagerank_purchases",
        "dedup_containment_pairs",
        "text_winnowing_overlap",
    ]
    import statistics

    from yanwenxian_week3_data_pipeline_spark.session import release_persistent_rdds

    # Sub-second queries swing ±25% session-to-session under the box's
    # intermittent background load (r7 observation) — a 5-sample median is
    # a point guess there, and the extra samples cost <1 s each. Queries
    # whose provisional median lands under the threshold get
    # SUBSEC_EXTRA_RUNS more warm samples; multi-second queries keep the
    # driver-time-bounded 5 (their noise is drift, which more samples in
    # the same session cannot fix).
    SUBSEC_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC", "0.6"))
    SUBSEC_EXTRA_RUNS = 4 if WARM_RUNS >= 5 else 0

    def run_set(names: dict | list) -> tuple[dict, dict, dict, dict, dict, dict]:
        timings: dict[str, float] = {}
        cold: dict[str, float] = {}
        iqr: dict[str, float] = {}
        samples: dict[str, list[float]] = {}
        counts: dict[str, int] = {}
        loads: dict[str, list[float | None]] = {}
        for name in sorted(names):
            spec = registry[name]
            load_at_start = _load1m()

            def one_run() -> float:
                t0 = time.perf_counter()
                df = spec.build(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 3)
                # Drop the run's eager-localCheckpoint blocks OUTSIDE the
                # timer: every run rebuilds its plan from scratch, so the
                # blocks are garbage the moment the write returns, but
                # ContextCleaner only reclaims them on GC — across 6 runs
                # x 12 queries the accumulation measurably pressured the
                # queries at the end of the suite (r7 diagnosis: +0.15 s
                # on docs_lrs_capped after the full headline set vs after
                # an explicit release).
                release_persistent_rdds(spark)
                return wall

            per_run = [one_run() for _ in range(1 + WARM_RUNS)]
            warm = per_run[1:]
            if SUBSEC_EXTRA_RUNS and statistics.median(warm) < SUBSEC_THRESHOLD:
                warm.extend(one_run() for _ in range(SUBSEC_EXTRA_RUNS))
            cold[name] = per_run[0]
            # The emitted raw-sample array is CAPPED at the last 9 samples
            # (r10 lesson: BENCH_r09.json printed fine, rc 0, but the
            # driver recorded parsed: null — if anything tail-buffers the
            # line before parsing, unbounded per-query arrays are the one
            # thing that grows with warm-run extensions). The median/IQR
            # statistics below are still computed over EVERY warm sample,
            # and ``warm_run_count`` records how many there were, so a
            # reader can tell when the cap bound (it only can if a caller
            # raises SPARK_GRAFT_BENCH_WARM past the default 5 + 4).
            samples[name] = warm[-9:]
            counts[name] = len(warm)
            timings[name] = round(statistics.median(sorted(warm)), 3)
            q = statistics.quantiles(sorted(warm), n=4, method="inclusive")
            iqr[name] = round(q[2] - q[0], 3)
            loads[name] = [load_at_start, _load1m()]
        return timings, cold, iqr, samples, counts, loads

    timings, cold, iqr, samples, counts, loads = run_set(specs)
    ext_timings, ext_cold, ext_iqr, ext_samples, ext_counts, ext_loads = run_set(EXTENDED)
    load_end = _load1m()

    # Contamination flag: the bench's OWN 32-thread bursts push the 1-min
    # load to ~2-3 by mid-suite (measured on a quiet box), while the
    # external load cycle spikes it to 8-11 — so a pre-suite load above
    # LOAD_START_MAX (nothing of ours is running yet) or any per-query
    # sample above LOAD_MAX (beyond bench self-load) marks the line as
    # load-contaminated. Advisory: the raw samples are all emitted, so a
    # reader can re-judge with their own thresholds.
    LOAD_START_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_START_MAX", "2.0"))
    LOAD_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "5.0"))
    all_loads = [
        x for pair in list(loads.values()) + list(ext_loads.values()) for x in pair
    ] + [load_start, load_end]
    observed = [x for x in all_loads if x is not None]
    contaminated = bool(
        observed
        and (
            (load_start is not None and load_start > LOAD_START_MAX)
            or max(observed) > LOAD_MAX
        )
    )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "runs_per_query": 1 + WARM_RUNS,
                "agg": f"median_of_{WARM_RUNS}_warm",
                "iqr_sec": iqr,
                "warm_samples_sec": samples,
                "warm_run_count": counts,
                "cold_run_sec": cold,
                "extended_total_wall": round(sum(ext_timings.values()), 3),
                "extended_queries": ext_timings,
                "extended_iqr_sec": ext_iqr,
                "extended_warm_samples_sec": ext_samples,
                "extended_warm_run_count": ext_counts,
                "extended_cold_run_sec": ext_cold,
                "load_1m_start": load_start,
                "load_1m_end": load_end,
                "load_1m_per_query": loads,
                "extended_load_1m_per_query": ext_loads,
                "load_1m_max": round(max(observed), 2) if observed else None,
                "load_contaminated": contaminated,
            }
        )
    )


if __name__ == "__main__":
    main()
