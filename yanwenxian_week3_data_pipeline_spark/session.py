"""SparkSession factory tuned for the target execution model.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the settings are
chosen so the same plans scale to a multi-executor cluster: AQE on (runtime
partition coalescing + skew-join splitting), explicit shuffle-partition count,
Arrow for any pandas exchange, and a conservative broadcast threshold that
lets dimension tables (region/nation/customer/supplier/part at test scale)
broadcast while big fact-fact joins stay shuffled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ywx-pipeline-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session (module docstring for the tuning).

    PySpark's DataFrame debugging is switched off: with
    ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's default),
    every Column and DataFrame call captures its Python call site and ships
    it to the JVM, about five py4j round trips per call. Building the
    article pipeline's plan spent ~3,000 round trips on that bookkeeping
    alone. The price: DataFrame error messages no longer carry the Python
    call-site context (the file and line that built the failing
    expression). The error class, the message, the SQL fragment and the JVM
    stack trace are unchanged. PySpark reads the setting once per process,
    on the first Column call made under an active session, and keeps the
    answer."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions if shuffle_partitions is not None else int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # no per-call Python call-site capture (docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def release_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (the eager ``localCheckpoint`` blocks
    the operators leave behind) and return how many were released.

    The engine's iterative/fan-out operators cut lineage with
    ``localCheckpoint(eager=True)`` and deliberately do NOT unpersist —
    the checkpointed frame's lifetime is the returned DataFrame's, and an
    operator cannot know when its caller is done (ContextCleaner reclaims
    the blocks once the Python references die). Harnesses that build and
    fully consume many queries in one session (bench.py, sweep tools) can
    instead call this BETWEEN queries to keep block-manager storage flat.

    Contract: only call this when no previously built DataFrame will be
    re-executed — a localCheckpointed frame has truncated lineage, so its
    blocks cannot be recomputed once dropped."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    ids = list(jmap.keySet())
    for rid in ids:
        jmap.get(rid).unpersist(False)
    return len(ids)
