"""snk_json_records (reference save_clean_data, cleaner.py:146-154).

Two modes:
- ``save_records_pretty`` — writes an already-collected list of records as
  one pretty-printed JSON array file, the reference's output shape. It runs
  no Spark job: ``run_cleaning_pipeline`` builds the list from the rows of
  its one action (the valid rows, sorted by record_id on the driver), so
  the sink adds no sort and no second pass. Creates parent dirs.
- ``save_records_distributed`` — ``df.write.json`` (JSONL, splittable,
  parallel) — the 100 TB path.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame


def save_records_pretty(records: list[dict], path: str | Path) -> int:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(records, indent=2, ensure_ascii=False), encoding="utf-8")
    return len(records)


def save_records_distributed(df: DataFrame, path: str | Path, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(str(path))


def save_text(text: str, path: str | Path) -> None:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")
