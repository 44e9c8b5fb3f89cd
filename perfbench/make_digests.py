"""Produce ``expected_digests.json``: the canonical result digest of every
query the table workloads run, recorded only where Spark's rows match the
query's DuckDB oracle (the ``tools/verify_all.py`` canon and hash). A query
without an oracle has its Spark digest pinned instead.

    python3 perfbench/make_digests.py <sf_dir> [<sf_dir> ...]

Digests are keyed by the scale directory's name (``sf0.1``). Exits non-zero,
writing nothing, if any query disagrees with its oracle.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import workloads  # noqa: E402


def main() -> int:
    import duckdb

    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import get_spark, release_persistent_rdds

    va = workloads.load_verify_all(ROOT)
    spark = get_spark("perfbench-digests")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = sorted({q for qs in workloads.QUERIES.values() for q in qs})
    out = json.loads(workloads.EXPECTED_DIGESTS.read_text()) if workloads.EXPECTED_DIGESTS.exists() else {}
    bad = []
    for sf in sys.argv[1:]:
        con = duckdb.connect()
        for t in va.TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        scale = {}
        for name in names:
            spec = registry[name]
            df = spec.build(spark, sf)
            srows = va.canon_rows_spark(df.collect(), df.columns)
            release_persistent_rdds(spark)
            entry = {"rows": len(srows), "md5": va.vhash(srows), "source": "spark"}
            if spec.oracle is not None:
                orows = va.canon_rows(con.execute(spec.oracle).df())
                if va.vhash(orows) != entry["md5"]:
                    bad.append(f"{Path(sf).name}/{name}")
                    continue
                entry["source"] = "duckdb-oracle"
            scale[name] = entry
            print(Path(sf).name, name, entry, flush=True)
        out[Path(sf).name] = scale
    if bad:
        print(f"oracle mismatch, nothing written: {bad}", file=sys.stderr)
        return 1
    workloads.EXPECTED_DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
