"""One benchmark process: set up a Spark session, run one workload's passes,
check every output, and report as ``PERFBENCH {json}`` lines on stdout.

Started by ``run.py``; not meant to be run by hand. With ``--setup-only`` it
exits as soon as the session is ready, which is how ``run.py`` samples
set-up time more than once per run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
from pathlib import Path

import spans
import workloads


def emit(event: str, **fields) -> None:
    print("PERFBENCH " + json.dumps({"event": event, **fields}), flush=True)


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and every live
    descendant: this Spark driver process, its JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def release_caches(spark, release_persistent_rdds) -> None:
    """Empty the CacheManager and drop persisted RDDs, then require the
    CacheManager to be empty: every timed pass starts from no cached data."""
    spark.catalog.clearCache()
    release_persistent_rdds(spark)
    gc.collect()
    left = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    if left:
        raise RuntimeError(f"{left} CacheManager entries survive clearCache before a timed pass")


def patch_pipeline_io(tracer) -> None:
    """Wrap the source and sink functions where ``pipeline`` looks them up,
    so their calls become spans (and job groups) of their own layer."""
    from yanwenxian_week3_data_pipeline_spark import pipeline

    def wrap(fn, layer):
        def traced(*a, **kw):
            with tracer.span(layer, fn=fn.__name__):
                return fn(*a, **kw)

        return traced

    pipeline.load_articles = wrap(pipeline.load_articles, "sources.load")
    pipeline.save_records_pretty = wrap(pipeline.save_records_pretty, "sinks.write")
    pipeline.save_text = wrap(pipeline.save_text, "sinks.write")


def pass_layers(tracer, snap, pass_span, outcomes, cores: int, sink_bytes: int, cache_left: int) -> dict:
    """Per-layer numbers of one traced pass."""
    all_spans = tracer.spans
    inside = spans.descendants(all_spans, pass_span)
    wall = pass_span.duration

    def named(name):
        return [s for s in inside if s.name == name]

    def groups(ss):
        return {d.id for s in ss for d in spans.descendants(all_spans, s)}

    st = snap.stages_in(groups([pass_span]))
    run_s = sum(s.run_s for s in st)
    scans = [s for s in st if s.input_bytes > 0]
    build = named("plans.build")
    pipe = named("pipeline.call")
    sinks = named("sinks.write")
    execs = snap.executions_in(groups([pass_span]))
    m = {
        "plans.build_s": sum(s.duration for s in build),
        "plans.build_jobs": len(snap.jobs_in(groups(build))),
        "sources.input_mb": sum(s.input_bytes for s in scans) / 1e6,
        "sources.scan_tasks": sum(s.tasks for s in scans),
        "sources.scan_run_s": sum(s.run_s for s in scans),
        "stages.count": len(st),
        "stages.tasks": sum(s.tasks for s in st),
        "stages.run_s": run_s,
        "stages.cpu_s": sum(s.cpu_s for s in st),
        "stages.gc_s": sum(s.gc_s for s in st),
        "stages.core_util": run_s / (wall * cores),
        "stages.single_task_run_share": (sum(s.run_s for s in st if s.tasks == 1) / run_s) if run_s else 0.0,
        "exchange.shuffle_write_mb": sum(s.shuffle_write_bytes for s in st) / 1e6,
        "exchange.shuffle_read_mb": sum(s.shuffle_read_bytes for s in st) / 1e6,
        "exchange.spill_mb": sum(s.spill_bytes for s in st) / 1e6,
        "functions.py_run_s": sum(e.py_run_s for e in execs),
        "functions.py_init_s": sum(e.py_init_s for e in execs),
        "functions.py_sent_mb": sum(e.py_sent_bytes for e in execs) / 1e6,
        "functions.py_returned_mb": sum(e.py_returned_bytes for e in execs) / 1e6,
        "pipeline.call_s": sum(s.duration for s in pipe),
        "pipeline.jobs": len(snap.jobs_in(groups(pipe))),
        "pipeline.cache_entries_left": cache_left if pipe else 0,
        "sinks.write_s": sum(s.duration for s in sinks),
        "sinks.jobs": len(snap.jobs_in(groups(sinks))),
        "sinks.bytes_written": sink_bytes,
    }
    # operator useful work: result rows against the largest row count any
    # physical operator of the execution produced
    results = {o.name: o.result_rows for o in outcomes}
    max_rows = {
        u.attrs.get("query", "run_cleaning_pipeline"): max(
            (e.max_rows_out for e in snap.executions_in(groups([u]))), default=0
        )
        for u in named("query") + pipe
    }
    for name, mx in max_rows.items():
        m[f"operators.max_rows_out.{name}"] = mx
        m[f"operators.useful_ratio.{name}"] = results.get(name, 0) / mx if mx else 0.0
    tot_max = sum(max_rows.values())
    m["operators.max_rows_out"] = max(max_rows.values(), default=0)
    m["operators.useful_ratio"] = sum(results.get(n, 0) for n in max_rows) / tot_max if tot_max else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--sf-dir")
    ap.add_argument("--input")
    ap.add_argument("--truth")
    ap.add_argument("--out-dir")
    a = ap.parse_args()
    root = Path(a.root)
    sys.path.insert(0, str(root))

    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import get_spark, release_persistent_rdds

    tracer = spans.Tracer(enabled=bool(a.trace))
    with tracer.span("session.start") as session_span:
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    registry = all_queries()
    spark.range(1).count()  # warm-up job: scheduler and executor threads up
    emit("ready")
    if a.setup_only:
        return 0

    if a.workload == "articles_etl":
        wl = workloads.ArticlesWorkload(spark, a.input, a.truth, Path(a.out_dir))
        if a.trace:
            patch_pipeline_io(tracer)
    else:
        wl = workloads.TableWorkload(a.workload, spark, registry, a.sf_dir, root)
    cores = spark.sparkContext.defaultParallelism
    off = spans.Tracer(enabled=False)

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    attempted, failures, cache_left = 0, [], []
    untraced_walls: list[float] = []
    traced: list[tuple] = []  # (pass span, outcomes, sink bytes, cache entries left)

    def one_pass(tr) -> float:
        nonlocal attempted
        release_caches(spark, release_persistent_rdds)
        with tr.span("pass") as ps:
            start = time.perf_counter()
            outcomes = wl.run_pass(tr)
            wall = time.perf_counter() - start
        # what the pass leaves cached (run_cleaning_pipeline never unpersists
        # its flagged frame); cleared before the next pass
        cache_left.append(cache_manager.numCachedEntries())
        for o in outcomes:
            attempted += 1
            why = o.error or wl.check(o)
            if why:
                failures.append(why)
                print(f"perfbench: FAILED {why}", file=sys.stderr, flush=True)
        if tr.enabled:
            traced.append((ps, outcomes, wl.sink_bytes(), cache_left[-1]))
        return wall

    first_pass_s = one_pass(off)
    # the JIT is still compiling through the second pass, which reads up to
    # 30 % slower than later ones and by how much depends on host load: it
    # warms up and is reported, but is not a warm pass
    warmup_pass_s = one_pass(off)
    # warm passes (one untraced and, traced, one traced each round) until the
    # next round would end past --seconds, at least one: a slower host runs
    # fewer passes, not a longer run
    warm_start, last_round = time.perf_counter(), 0.0
    while not untraced_walls or time.perf_counter() - warm_start + last_round <= a.seconds:
        round_start = time.perf_counter()
        untraced_walls.append(one_pass(off))
        if a.trace:
            one_pass(tracer)
        last_round = time.perf_counter() - round_start

    result = {
        "first_pass_s": first_pass_s,
        "warmup_pass_s": warmup_pass_s,
        "warm_s": untraced_walls,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures[:20],
        "input_rows": wl.input_rows,
        "inputs": wl.inputs,
        "cores": cores,
        "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
        "cache_entries_left": cache_left,
    }
    if a.trace:
        snap = spans.read_status(spark, {s.id for s in tracer.spans})
        per_pass = [pass_layers(tracer, snap, ps, outs, cores, sink, left) for ps, outs, sink, left in traced]
        layers = {k: statistics.median([p[k] for p in per_pass]) for k in per_pass[0]}
        layers["session.start_s"] = session_span.duration
        layers["process.peak_rss_mb"] = result["peak_rss_mb"]
        traced_walls = [ps.duration for ps, *_ in traced]
        layers["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
        result["layers"] = layers
        result["traced_s"] = traced_walls
        result["self_time_s"] = {
            name: statistics.median([spans.self_time(tracer.spans, s) for s in tracer.spans if s.name == name])
            for name in sorted({s.name for s in tracer.spans if s.name != "session.start"})
        }
    emit("result", **result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
