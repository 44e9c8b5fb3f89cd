"""Repository benchmark: one workload per invocation, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see perfbench/README.md):
``llm_curation`` and ``articles_etl``, which BENCHMARK.json lists, and
``tpch_relational``, runnable by name.

With ``--trace 0`` the end-to-end metrics are measured: set-up time (sampled
in two fresh processes, median reported), the median warm pass and rows
per second; the first and warm-up passes are on the report line only. With
``--trace 1`` one traced process gives the per-layer metrics instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full report with context, every pass sample and
the per-query detail. Everything the run writes goes under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = ROOT / "yanwenxian_week3_data_pipeline_spark"
VERIFY_ALL = ROOT / "tools" / "verify_all.py"

SETUP_SAMPLES = 2  # set-up is sampled in this many fresh processes per run
DEADLINE_S = 170  # a run that is not done by then is stopped and fails
ARTICLE_CACHE_KEEP = 3  # generated article files kept, most recent first

sys.path.insert(0, str(HERE))
import articles  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class BenchError(RuntimeError):
    pass


def load1m() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def cpu_times() -> list[int] | None:
    """Aggregate CPU tick counters from /proc/stat (user ... steal)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def sf_dir() -> str:
    """The fixed test tables (TESTDATA.md); SPARK_GRAFT_SF_DIR overrides."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.1")


def article_input(seed: int) -> tuple[Path, Path]:
    """The generated article file and its ground truth for ``seed``, made
    once and kept in a small cache; generation is in no metric."""
    cache = WORK / "articles"
    cache.mkdir(parents=True, exist_ok=True)
    stem = cache / f"seed{seed}-n{articles.N_RECORDS}"
    data, truth = stem.with_suffix(".articles.json"), stem.with_suffix(".truth.json")
    if not (data.exists() and truth.exists()):
        records, gt = articles.generate(seed)
        tmp = stem.with_suffix(".tmp")
        articles.write_articles(records, tmp)
        tmp.replace(data)
        truth.write_text(json.dumps(gt.summary()))
    os.utime(data)
    by_age = sorted(cache.glob("*.articles.json"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in by_age[ARTICLE_CACHE_KEEP:]:
        old.unlink(missing_ok=True)
        old.with_name(old.name.replace(".articles.json", ".truth.json")).unlink(missing_ok=True)
    return data, truth


def child_env(run_dir: Path) -> dict:
    env = dict(os.environ)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONUNBUFFERED"] = "1"
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (its JVM and Python workers included)
    and wait until none of it is left. Nothing of a finished driver needs a
    graceful stop: its run directory is removed afterwards."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + 30
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise BenchError(f"processes of group {proc.pid} survive SIGKILL")


def run_child(args: list[str], env: dict, log: Path, deadline: float, until: str) -> tuple[float, dict]:
    """Start a driver process and read its events until ``until`` (``ready``
    or ``result``); return (seconds from start to ``ready``, that event)."""
    cmd = [sys.executable, str(HERE / "driver.py"), "--root", str(ROOT), *args]
    with open(log, "ab") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=err, env=env, cwd=log.parent, start_new_session=True
        )
        # past the deadline the whole group is killed, which ends the read loop
        watchdog = threading.Timer(max(0.0, deadline - time.time()), os.killpg, (proc.pid, signal.SIGKILL))
        watchdog.start()
        ready_s, event = None, None
        try:
            for raw in proc.stdout:
                line = raw.decode("utf-8", "replace")
                if not line.startswith("PERFBENCH "):
                    continue
                ev = json.loads(line[len("PERFBENCH "):])
                if ev["event"] == "ready":
                    ready_s = time.perf_counter() - t0
                if ev["event"] == until:
                    event = ev
                    break
        finally:
            watchdog.cancel()
            stop_group(proc)
    if time.time() >= deadline:
        raise BenchError(f"run exceeded its {DEADLINE_S} s deadline")
    if event is None or ready_s is None:
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"driver ended (exit {proc.returncode}) before its {until!r} event; log tail:\n{tail}")
    return ready_s, event


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    missing = [str(p.relative_to(ROOT)) for p in (PACKAGE, VERIFY_ALL) if not p.exists()]
    if missing:
        raise BenchError(f"not a checkout of the program: {', '.join(missing)} missing")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    load_before, cpu_before = load1m(), cpu_times()
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    try:
        env = child_env(run_dir)
        args = ["--workload", a.workload, "--seconds", str(a.seconds)]
        if a.workload == "articles_etl":
            data, truth = article_input(a.seed)
            out_dir = run_dir / "out"
            out_dir.mkdir(exist_ok=True)
            args += ["--input", str(data), "--truth", str(truth), "--out-dir", str(out_dir)]
        else:
            args += ["--sf-dir", sf_dir()]
        log = run_dir / "driver.log"

        setup_samples, children_start = [], time.perf_counter()
        if not a.trace:
            for _ in range(SETUP_SAMPLES - 1):
                setup_samples.append(run_child([*args, "--setup-only"], env, log, deadline, "ready")[0])
        ready_s, res = run_child([*args, "--trace", str(a.trace)], env, log, deadline, "result")
        setup_samples.append(ready_s)
        children_s = time.perf_counter() - children_start
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    warm = res["warm_s"]
    wall_s = statistics.median(warm)
    if a.trace:
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in res["layers"]:
                value = res["layers"][name]
            elif name.startswith("operators.") and name.count(".") == 2:
                value = 0  # a per-query metric of a query this workload does not run
            else:
                raise BenchError(f"per-layer metric {name} was not measured")
            metrics[name] = metric(value, m["unit"])
    else:
        e2e = {
            "setup_s": statistics.median(setup_samples),
            "wall_s": wall_s,
            "rows_per_s": res["input_rows"] / wall_s,
        }
        metrics = {m["name"]: metric(e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}

    tail = stats.tail_percentile(warm)
    report = {
        "workload": a.workload,
        "trace": a.trace,
        "context": {
            "git_commit": git_commit(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
            "spark_cores": res["cores"],
            "seed": a.seed,
            "seconds": a.seconds,
            "inputs": res["inputs"],
            "input_rows": res["input_rows"],
            "load_1m_before": load_before,
            "load_1m_after": load1m(),
            "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        },
        "setup_s_samples": setup_samples,
        "children_s": children_s,
        "first_pass_s": res["first_pass_s"],
        "warmup_pass_s": res["warmup_pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "warm_s_samples": warm,
        "warm_s_count": len(warm),
        "warm_s_tail": {"p": tail[0], "value": tail[1]} if tail else None,
        "failed_frac": res["failed"] / res["attempted"],
        "failures": res["failures"],
        **{k: res[k] for k in ("cache_entries_left", "layers", "traced_s", "self_time_s") if k in res},
    }
    for why in res["failures"]:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(json.dumps(report))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _terminate(signum, frame):
    raise BenchError(f"stopped by signal {signum}")  # unwinds through stop_group


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
