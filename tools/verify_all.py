"""Mirror of the driver's CORRECTNESS gate: run every registered query
side-by-side with its DuckDB oracle and compare canonicalized values the way
the driver does — Spark via ``collect()`` (raw Python objects: Decimal,
int, datetime survive untouched), DuckDB via ``.df()`` (pandas dtypes:
DECIMAL/HUGEINT→float64, nullable-int→float64); columns sorted by name,
rows sorted, str-level value hash, NA-ish values unified. Asymmetric on
purpose: a Spark ``Decimal('137431.00')`` vs oracle ``137431.0`` or a Spark
``99111`` vs oracle HUGEINT-float ``99111.0`` mismatches HERE exactly as it
did in the r1 driver run (VERDICT.md "What's wrong" item 1).

Usage: python tools/verify_all.py [sf_dir] [name_prefix ...]
  sf_dir        table directory (default /root/testdata/sf0.01 — the
                driver's correctness scale)
  name_prefix   optional: only verify queries whose name starts with any
                of the given prefixes
Env:
  VERIFY_DIFF=1   print a 3-row sample diff for each mismatch
  VERIFY_TZ=<zone>  override spark.sql.session.timeZone for the sweep —
                  the driver owns its session conf, so a full sweep under
                  e.g. America/New_York proves the registry is
                  zone-independent (DuckDB is zone-free on NTZ/DATE)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def canon_cell(v) -> str:
    """Canonical string for one value under pandas normalization. Both
    engines' results pass through pandas, so same-shaped NA (NaN/NaT/None)
    and numpy scalars appear on both sides; unify them anyway so the compare
    never depends on which NA flavor a dtype produces."""
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (np.floating, float)):
        return str(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(df) -> list[str]:
    """Dtype-PRESERVING row canon: per-column value lists, never
    ``iterrows()`` (which upcasts every numeric in a row to the row's
    common dtype — an int64 column next to a float column would render
    ``1071.0`` and poison the compare)."""
    cols = sorted(df.columns)
    col_vals = [df[c].tolist() for c in cols]
    out = [",".join(canon_cell(cv[i]) for cv in col_vals) for i in range(len(df))]
    return sorted(out)


def canon_rows_spark(rows, cols) -> list[str]:
    """Driver-side twin of canon_rows over ``collect()`` output: Row objects
    keep their python types (Decimal stays Decimal, int stays int), so any
    type the pandas oracle path renders differently fails the hash."""
    from pyspark.sql import Row

    def cell(v):
        if isinstance(v, Row):
            d = v.asDict()
            return "{" + ",".join(f"{k}:{cell(d[k])}" for k in sorted(d)) + "}"
        return canon_cell(v)

    scols = sorted(cols)
    return sorted(",".join(cell(r[c]) for c in scols) for r in rows)


def vhash(lines: list[str]) -> str:
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    import duckdb

    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import (
        get_spark,
        release_persistent_rdds,
    )

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])
    show_diff = os.environ.get("VERIFY_DIFF") == "1"

    spark = get_spark("verify-all")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("VERIFY_TZ"):
        spark.conf.set("spark.sql.session.timeZone", os.environ["VERIFY_TZ"])
    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs = all_queries()
    names = sorted(n for n in qs if not prefixes or n.startswith(prefixes))
    bad, rows_only = [], 0
    t0 = time.time()
    for name in names:
        spec = qs[name]
        try:
            sdf = spec.build(spark, sf)
            scollected = sdf.collect()
            if spec.oracle is None:
                rows_only += 1
                continue
            odf = con.execute(spec.oracle).df()
            srows, orows = canon_rows_spark(scollected, sdf.columns), canon_rows(odf)
            if sorted(sdf.columns) != sorted(odf.columns):
                bad.append(name)
                print(f"MISMATCH {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            elif len(srows) != len(orows) or vhash(srows) != vhash(orows):
                bad.append(name)
                print(f"MISMATCH {name}: spark={len(srows)} duckdb={len(orows)}")
                if show_diff:
                    sset, oset = set(srows), set(orows)
                    for r in [r for r in srows if r not in oset][:3]:
                        print(f"  spark-only : {r[:220]}")
                    for r in [r for r in orows if r not in sset][:3]:
                        print(f"  duckdb-only: {r[:220]}")
        except Exception as e:  # noqa: BLE001 - report and continue
            bad.append(name)
            print(f"ERROR {name}: {str(e)[:200]}")
        finally:
            # each query is fully consumed above; drop its eager
            # localCheckpoint blocks so a 200-query sweep keeps
            # block-manager storage flat (session.py contract)
            release_persistent_rdds(spark)
    status = "ALL MATCH" if not bad else f"FAILED: {bad}"
    print(f"{len(names)} queries ({rows_only} rows-only) in {time.time() - t0:.0f}s -> {status}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
