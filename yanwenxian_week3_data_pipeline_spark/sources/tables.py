"""Parquet table loaders for the driver-materialized star schema
(see /root/repo/TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings.

Plain ``spark.read.parquet`` — Catalyst handles column pruning and filter
pushdown; do NOT pre-collect or pre-filter here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _local_parquet_bytes(path: str) -> int | None:
    """Driver-side total byte size of a local parquet file or directory of
    part files; None when the path is not a local filesystem path (object
    stores return None → the fan-out below self-disables, since at real
    cluster scale scans have many splits anyway)."""
    p = path[len("file:") :] if path.startswith("file:") else path
    if not os.path.exists(p):
        return None
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def read_parquet_fanout(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` plus one scan fan-out rule: when the
    estimated split count (total bytes / spark.sql.files.maxPartitionBytes)
    is below ``defaultParallelism``, round-robin ``repartition`` the scan
    to ``defaultParallelism``.

    Parquet parallelism is bounded by row groups, so a one-file, one-row-
    group table is one input split however many cores exist, and every
    narrow operator before the first exchange would run on one core.
    The rule does nothing where the scan already parallelizes: a multi-
    split input (the 100 TB case) or a non-local path (size unknown,
    assume real-scale storage).

    Lemma: values are partitioning-independent for every registered query
    (oracle sweeps at local[4] and local[8]), and the fan-out is one
    round-robin exchange (with Spark's per-partition pre-sort for retry
    determinism, spark.sql.execution.sortBeforeRepartition), no cartesian
    product, no driver collect. Catalyst pushes deterministic filters
    below that exchange, so filter work stays in the scan task.
    Measurements: docs/FANOUT_RULE_AB.md.
    """
    df = spark.read.parquet(path)
    total = _local_parquet_bytes(path)
    if total is None:
        return df
    try:
        mpb_raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        digits = "".join(c for c in str(mpb_raw) if c.isdigit())
        mpb = int(digits) if digits else 128 * 1024 * 1024
    except Exception:  # noqa: BLE001 - conf lookup must never break a scan
        mpb = 128 * 1024 * 1024
    par = spark.sparkContext.defaultParallelism
    est_splits = max(1, -(-total // mpb))
    if est_splits >= par:
        return df
    return df.repartition(par)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` as TIMESTAMP_NTZ, independent of session
    configuration. The driver parquet stores ``ts`` as TIMESTAMP(MICROS,
    isAdjustedToUTC=false); an explicit read schema forces NTZ even in a
    session where ``spark.sql.parquet.inferTimestampNTZ.enabled`` is off
    (which would otherwise surface it as LTZ in the session timezone). No
    session conf is mutated here — loaders must be side-effect free so
    concurrent queries sharing one session never race on reader behavior."""
    schema = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    return spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators are usable from
    Spark SQL as well as the DataFrame API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
