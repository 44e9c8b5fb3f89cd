"""The bench tripwire's decision logic, including the isolated
second-strike confirmation added after its second false trigger (an
in-suite +17 % dedup_minhash_lsh reading on a diff that does not touch
the minhash path, cleared by an isolated re-measure minutes later)."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def br():
    path = Path(__file__).resolve().parents[1] / "tools" / "bench_regression.py"
    spec = importlib.util.spec_from_file_location("bench_regression", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(tmp_path, name, obj):
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


def test_within_guard_passes(br, tmp_path, monkeypatch):
    base = {"queries": {"qx": 1.0}, "iqr_sec": {"qx": 0.01}}
    new = {"queries": {"qx": 1.2}}  # +20% but only +0.2s < 0.25 floor
    monkeypatch.setenv("BENCH_REGRESSION_NO_CONFIRM", "1")
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 0


def test_single_strike_fails_without_confirm(br, tmp_path, monkeypatch):
    base = {"queries": {"qx": 1.0}, "iqr_sec": {"qx": 0.01}}
    new = {"queries": {"qx": 1.6}}  # +60% and +0.6s
    monkeypatch.setenv("BENCH_REGRESSION_NO_CONFIRM", "1")
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 1


def _isolated_one(sf_dir: str, name: str) -> tuple[float, float]:
    """Measure ``name`` with the IDENTICAL fresh-JVM subprocess protocol the
    second strike itself uses (make_bench_baseline --isolated-one: 1 cold +
    9 warm, median/IQR of the warm 9)."""
    tool = Path(__file__).resolve().parents[1] / "tools" / "make_bench_baseline.py"
    proc = subprocess.run(
        [sys.executable, str(tool), "--isolated-one", name, sf_dir],
        capture_output=True,
        text=True,
        check=True,
    )
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    return float(rec["median"]), float(rec["iqr"])


def test_second_strike_clears_in_suite_inflation(br, sf_dir, tmp_path, monkeypatch):
    """A fake in-suite reading 2x the real wall flags, but the isolated
    re-measure lands near the honest ISOLATED baseline and clears it.

    r10: the baseline median is obtained via the same fresh-JVM
    --isolated-one protocol the second strike uses, and recorded under
    ``isolated_sec`` the way every production baseline is
    (docs/BENCH_BASELINE.json) — so the test exercises the like-with-like
    path _confirm_isolated actually takes. The first cut measured the
    baseline in the warm pytest JVM instead, a protocol mismatch the
    tripwire itself was built to avoid (r7/r8 ADVICE): it turned red on an
    idle box whenever the fresh-JVM vs warm-JVM gap on this sub-second
    query exceeded the 0.25 s guard (observed 0.639 in-process vs 0.999
    fresh-JVM under the r10 box drift)."""
    name = "q6_forecast_revenue"
    med, iqr = _isolated_one(sf_dir, name)
    base = {
        "queries": {name: round(med + 0.05, 3)},
        "iqr_sec": {name: 0.0},
        "isolated_sec": {name: med},
        "isolated_iqr_sec": {name: iqr},
    }
    new = {"queries": {name: round(med * 2 + 0.6, 3)}}
    monkeypatch.delenv("BENCH_REGRESSION_NO_CONFIRM", raising=False)
    # probe and (test-local) baseline share the box state back-to-back;
    # the production trough wait would only add dead time here
    monkeypatch.setenv("BENCH_REGRESSION_TROUGH_WAIT", "0")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 0


def _fake_probe(monkeypatch, br, median, samples):
    """Stub the --isolated-one subprocess with a crafted probe record."""
    import subprocess as _sp
    import types

    rec = json.dumps({"name": "qx", "median": median, "iqr": 0.1, "samples": samples})

    def fake_run(*a, **k):
        return types.SimpleNamespace(stdout=rec + "\n", stderr="", returncode=0)

    monkeypatch.setattr(_sp, "run", fake_run)


def test_second_strike_slope_dominated_probe_clears(br, tmp_path, monkeypatch):
    """r10 steady-tail verdict: a probe whose 9-warm median lands on a
    cold-cache/JIT decay slope but whose LAST-5 tail sits at the baseline
    must clear. Shape taken from the real r10 storm probe (docs_lrs:
    median 8.567 vs baseline 1.960, 20-run plateau 1.85 BELOW baseline)."""
    base = {
        "queries": {"qx": 1.8},
        "iqr_sec": {"qx": 0.1},
        "isolated_sec": {"qx": 1.96},
        "isolated_iqr_sec": {"qx": 0.05},
    }
    new = {"queries": {"qx": 4.0}}  # in-suite flag fires
    _fake_probe(
        monkeypatch, br, 7.8, [19.2, 14.3, 9.9, 8.9, 7.8, 3.1, 2.3, 2.0, 1.9, 1.85]
    )
    monkeypatch.delenv("BENCH_REGRESSION_NO_CONFIRM", raising=False)
    # probe and (test-local) baseline share the box state back-to-back;
    # the production trough wait would only add dead time here
    monkeypatch.setenv("BENCH_REGRESSION_TROUGH_WAIT", "0")
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 0


def test_second_strike_flat_high_probe_confirms(br, tmp_path, monkeypatch):
    """A structurally slow probe (flat samples, no slope) must still
    CONFIRM — the steady tail breaks the same thresholds the median does."""
    base = {
        "queries": {"qx": 1.8},
        "iqr_sec": {"qx": 0.1},
        "isolated_sec": {"qx": 1.96},
        "isolated_iqr_sec": {"qx": 0.05},
    }
    new = {"queries": {"qx": 4.0}}
    _fake_probe(monkeypatch, br, 3.1, [3.4, 3.2, 3.0, 3.1, 3.2, 3.0, 3.1, 3.1, 3.0, 3.2])
    monkeypatch.delenv("BENCH_REGRESSION_NO_CONFIRM", raising=False)
    # probe and (test-local) baseline share the box state back-to-back;
    # the production trough wait would only add dead time here
    monkeypatch.setenv("BENCH_REGRESSION_TROUGH_WAIT", "0")
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 1


def test_second_strike_confirms_real_regression(br, spark, sf_dir, tmp_path, monkeypatch):
    """An absurdly low baseline models a real structural regression: the
    isolated re-measure still breaks the thresholds and the gate fails.
    Needs a query whose warm wall exceeds the 0.25 s absolute floor even
    fully JIT-warm — the minhash pipeline qualifies at every sf; q6 does
    not (its warm sf0.001 wall dips under the floor after a prior run in
    the same session, which made a first cut of this test order-dependent)."""
    name = "dedup_minhash_lsh"
    base = {"queries": {name: 0.001}, "iqr_sec": {name: 0.0}}
    new = {"queries": {name: 5.0}}
    monkeypatch.delenv("BENCH_REGRESSION_NO_CONFIRM", raising=False)
    # probe and (test-local) baseline share the box state back-to-back;
    # the production trough wait would only add dead time here
    monkeypatch.setenv("BENCH_REGRESSION_TROUGH_WAIT", "0")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(
        "sys.argv",
        ["x", _write(tmp_path, "n.json", new), _write(tmp_path, "b.json", base)],
    )
    assert br.main() == 1


def test_baseline_warns_when_sample_cap_binds():
    path = Path(__file__).resolve().parents[1] / "tools" / "make_bench_baseline.py"
    spec = importlib.util.spec_from_file_location("make_bench_baseline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    line = {
        "warm_samples_sec": {"qa": [1.0] * 9, "qb": [1.0] * 5},
        "warm_run_count": {"qa": 12, "qb": 5},
        "extended_warm_samples_sec": {"qc": [2.0] * 9},
        "extended_warm_run_count": {"qc": 9},
    }
    warnings = mod.truncated_sample_warnings(line)
    assert len(warnings) == 1 and "qa: 12 warm runs" in warnings[0]
    assert mod.truncated_sample_warnings({"warm_samples_sec": {"qa": [1.0] * 9}}) == []
