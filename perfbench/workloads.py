"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A pass is one execution of every member of the workload, timed as a whole.
Table workloads run registered queries (``QuerySpec.build`` then
``collect()``, so the rows checked are the rows the pass produced); the
article workload calls ``run_cleaning_pipeline`` on a generated file. Every
check runs outside the timer.
"""

from __future__ import annotations

import json
import os
import re
import sys
from dataclasses import dataclass, field
from pathlib import Path

import articles

HERE = Path(__file__).resolve().parent
EXPECTED_DIGESTS = HERE / "expected_digests.json"

TPCH_RELATIONAL = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q10_returned_items",
    "q9_product_profit",
    "q18_large_volume_orders",
    "join_region_revenue",
    "window_topk_per_customer",
    "events_tumbling_hourly",
    "events_sessionize",
)
LLM_CURATION = (
    "dedup_containment_pairs",
    "dedup_minhash_lsh",
)
# tables each table workload reads; their rows are the workload's input rows
TABLES = {
    "tpch_relational": ("lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"),
    "llm_curation": ("documents", "embeddings"),
}
QUERIES = {"tpch_relational": TPCH_RELATIONAL, "llm_curation": LLM_CURATION}
WORKLOADS = (*QUERIES, "articles_etl")


def load_verify_all(root: Path):
    """``tools/verify_all.py`` of the checkout, whose row canon defines the
    digests (the same canon the DuckDB-oracle sweep compares)."""
    sys.path.insert(0, str(root / "tools"))
    import verify_all

    return verify_all


def table_stats(sf_dir: str, tables: tuple[str, ...]) -> dict[str, dict]:
    """Rows and bytes per input table, from parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        out[t] = {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}
    return out


@dataclass
class Outcome:
    """One execution in a pass: a query run or a pipeline call."""

    name: str
    error: str | None = None
    result_rows: int = 0
    payload: object = None  # collected rows, checked after the timer
    columns: list[str] = field(default_factory=list)


class TableWorkload:
    def __init__(self, name: str, spark, registry, sf_dir: str, root: Path):
        self.name = name
        self.spark = spark
        self.sf_dir = sf_dir
        # a fixed order: the first pass pays one-time costs (Python worker
        # start, codegen) in whichever query runs first, so an order that
        # varied with the seed would make first_pass_s bimodal across seeds
        self.queries = list(QUERIES[name])
        self.specs = {q: registry[q] for q in self.queries}
        scale = Path(sf_dir).name
        expected = json.loads(EXPECTED_DIGESTS.read_text())
        if scale not in expected:
            raise SystemExit(f"no expected digests for scale {scale!r} in {EXPECTED_DIGESTS}")
        self.expected = expected[scale]
        missing = [q for q in self.queries if q not in self.expected]
        if missing:
            raise SystemExit(f"no expected digest for {missing} at {scale}")
        self.verify_all = load_verify_all(root)
        self.inputs = table_stats(sf_dir, TABLES[name])
        self.input_rows = sum(t["rows"] for t in self.inputs.values())

    def run_pass(self, tracer) -> list[Outcome]:
        out = []
        for q in self.queries:
            o = Outcome(q)
            with tracer.span("query", query=q):
                try:
                    with tracer.span("plans.build"):
                        df = self.specs[q].build(self.spark, self.sf_dir)
                    with tracer.span("execute"):
                        o.payload = df.collect()
                    o.columns = df.columns
                    o.result_rows = len(o.payload)
                except Exception as e:  # noqa: BLE001 - a failed execution is counted, not fatal
                    o.error = f"{type(e).__name__}: {str(e)[:300]}"
            out.append(o)
        return out

    def check(self, o: Outcome) -> str | None:
        """None when the rows match the expected digest, else why not."""
        va = self.verify_all
        digest = va.vhash(va.canon_rows_spark(o.payload, o.columns))
        o.payload = None
        want = self.expected[o.name]
        if o.result_rows != want["rows"] or digest != want["md5"]:
            return f"{o.name}: {o.result_rows} rows md5 {digest}, expected {want['rows']} rows md5 {want['md5']}"
        return None

    def sink_bytes(self) -> int:
        return 0  # results are collected, nothing is written


# report lines checked against the ground truth
_REPORT_FIELDS = {
    "n_load": r"Total records processed:\s+(\d+)",
    "n_dedup": r"Cleaned record count:\s+(\d+)",
    "n_incomplete": r"- Missing \(incomplete\):\s+(\d+)",
    "n_duplicates": r"- Duplicates:\s+(\d+)",
    "n_valid": r"Total validation passed:\s+(\d+)",
    "n_failed": r"Total validation failed:\s+(\d+)",
    "n_dated": r"Records with date:\s+(\d+)/",
}
_REASON_PREFIX = {
    "short_content": "Content is too short",
    "invalid_url": "URL must start with",
    "missing_published": "Published date is missing",
}


def check_report(text: str, truth: articles.GroundTruth) -> list[str]:
    """Differences between a quality report and the ground truth."""
    want = {
        "n_load": truth.n_load,
        "n_dedup": truth.n_dedup,
        "n_incomplete": truth.n_load - truth.n_complete,
        "n_duplicates": truth.n_complete - truth.n_dedup,
        "n_valid": truth.n_valid,
        "n_failed": truth.n_dedup - truth.n_valid,
        "n_dated": truth.n_dated,
    }
    errs = []
    for key, pattern in _REPORT_FIELDS.items():
        m = re.search(pattern, text)
        got = int(m.group(1)) if m else None
        if got != want[key]:
            errs.append(f"report {key}: {got}, expected {want[key]}")
    for reason, n in truth.failure_counts.items():
        m = re.search(rf"^\s+(\d+)\s+{re.escape(_REASON_PREFIX[reason])}", text, re.M)
        got = int(m.group(1)) if m else None
        if got != n:
            errs.append(f"report {reason}: {got}, expected {n}")
    return errs


def check_cleaned(records: list[dict], truth: articles.GroundTruth) -> list[str]:
    """Differences between the saved valid records and the ground truth."""
    errs = []
    if len(records) != truth.n_valid:
        errs.append(f"saved {len(records)} records, expected {truth.n_valid}")
    digest = articles.titles_digest([r.get("title") or "" for r in records])
    if digest != truth.valid_titles_md5:
        errs.append(f"saved titles md5 {digest}, expected {truth.valid_titles_md5}")
    return errs


class ArticlesWorkload:
    name = "articles_etl"

    def __init__(self, spark, input_path: str, truth_path: str, out_dir: Path):
        from yanwenxian_week3_data_pipeline_spark import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.input_path = input_path
        self.truth = articles.GroundTruth(**json.loads(Path(truth_path).read_text()))
        self.out_json = out_dir / "cleaned_output.json"
        self.out_report = out_dir / "quality_report.txt"
        self.inputs = {"articles": {"rows": self.truth.n_load, "bytes": os.path.getsize(input_path)}}
        self.input_rows = self.truth.n_load

    def run_pass(self, tracer) -> list[Outcome]:
        for p in (self.out_json, self.out_report):
            p.unlink(missing_ok=True)
        o = Outcome("run_cleaning_pipeline")
        with tracer.span("pipeline.call"):
            try:
                self.pipeline.run_cleaning_pipeline(
                    self.spark, self.input_path, self.out_json, self.out_report, verbose=False
                )
            except Exception as e:  # noqa: BLE001 - a failed execution is counted, not fatal
                o.error = f"{type(e).__name__}: {str(e)[:300]}"
        return [o]

    def check(self, o: Outcome) -> str | None:
        try:
            records = json.loads(self.out_json.read_text(encoding="utf-8"))
            report = self.out_report.read_text(encoding="utf-8")
        except (OSError, ValueError) as e:
            return f"unreadable output: {e}"
        o.result_rows = len(records)
        errs = check_cleaned(records, self.truth) + check_report(report, self.truth)
        return "; ".join(errs) or None

    def sink_bytes(self) -> int:
        return sum(p.stat().st_size for p in (self.out_json, self.out_report) if p.exists())
