"""Article JSON source.

Accepts the reference's four input envelope shapes (cleaner.py:124-143):

1. top-level JSON array of records
2. ``{"articles": [...]}`` wrapper
3. a bare single object (treated as one record)
4. ``null`` / empty array → empty DataFrame

and assigns an ingest-order ``record_id`` replacing the pandas row index.

Scale note: ``multiLine=True`` makes a whole JSON document one split, which
is correct for pretty-printed array files but not parallel. At 100 TB inputs
arrive as JSON-Lines; ``load_articles_jsonl`` reads those fully distributed
(one record per line, splittable) — keep-first dedup ordering there uses a
documented stable sort instead of physical order (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..schema import ARTICLE_SCHEMA, RECORD_ID, conform


def _with_record_id(df: DataFrame) -> DataFrame:
    """Dense ingest-order id with full parallelism (zipWithIndex shape).

    ``monotonically_increasing_id`` puts the partition index in the high
    bits and the in-partition position in the low 33. On a single-partition
    input (any multiLine document) the high bits are 0, so it already is
    the dense 0..n-1 position: no window, no shuffle. Otherwise ranking
    WITHIN each partition and adding a per-partition row-count offset (one
    tiny count job, broadcast back) reproduces the global ingest order
    without ever sorting the dataset into one task — a plain
    ``Window.orderBy(mono)`` is a global window, which drags every row
    through a single partition and caps the reader at one core."""
    if df.rdd.getNumPartitions() <= 1:
        return df.withColumn(RECORD_ID, F.monotonically_increasing_id())

    mono = df.withColumn("_mono", F.monotonically_increasing_id()).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("_mono")
    rn = (F.row_number().over(w) - 1).cast("long")

    spark = df.sparkSession
    counts = sorted(
        (r["_pid"], r["count"]) for r in mono.groupBy("_pid").count().collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        mono.join(F.broadcast(off), "_pid")
        .withColumn(RECORD_ID, (F.col("_off") + rn))
        .drop("_mono", "_pid", "_off")
    )


def load_articles(spark: SparkSession, path: str) -> DataFrame:
    """Read one pretty-printed JSON document (any of the 4 envelope shapes)
    and return a conformed article DataFrame with ``record_id``.

    The single multiLine document is ONE input split; after record_id
    assignment the rows are fanned out (round-robin repartition) so every
    downstream transform — cleaning, validation, the map side of the dedup
    window — runs on all cores instead of inside the one parse task
    (measured 90 s → 13 s for the 1M-article pipeline)."""
    # Schema inference parses the multiLine file twice (one inference job,
    # then the scan), and is kept on purpose:
    # - a schema-enforced read cannot tell whether any record carries a
    #   ``published_date`` key, and the published → published_date alias
    #   (schema.conform, cleaner.py:311-312) depends on exactly that;
    # - one ``wholetext`` read + ``from_json(array<map<string,string>>)``
    #   sees the keys, but renders non-string scalars differently: ``1e3``
    #   stays "1e3" where inference makes it "1000.0";
    # - the inference job costs ~0.1 s of a ~2.9 s 40k-record pass
    #   (4 cores).
    raw = spark.read.json(path, multiLine=True)
    cols = raw.columns

    if not cols or cols == ["_corrupt_record"]:
        return _empty(spark)

    from pyspark.sql.types import ArrayType, StructType

    if "articles" in cols and isinstance(raw.schema["articles"].dataType, ArrayType):
        # {"articles": [...]} wrapper. The explode emits the array in order
        # inside the document's one partition, so _with_record_id numbers
        # the records in file order with no sort. A NON-list "articles"
        # value falls through: the reference (cleaner.py:137-142) wraps the
        # whole dict as one record in that case, same as the bare-object
        # shape. A list holding no objects ([] infers as array<string>) has
        # no article records.
        if not isinstance(raw.schema["articles"].dataType.elementType, StructType):
            return _empty(spark)
        df = raw.select(F.explode_outer("articles").alias("_a")).select("_a.*")
    else:
        # top-level array and bare single object both land here
        # (spark.read.json handles either as rows)
        df = raw
    out = conform(_with_record_id(df))
    return out.repartition(spark.sparkContext.defaultParallelism)


def load_articles_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Distributed JSON-Lines reader for at-scale inputs; schema enforced at
    the scan (no inference pass)."""
    df = spark.read.schema(ARTICLE_SCHEMA).json(path)
    return conform(_with_record_id(df))


def load_articles_jsonl_audited(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL read with a corrupt-record AUDIT channel: returns
    ``(clean_df, corrupt_df)`` where corrupt_df carries the raw text of
    every malformed line. The plain reader's PERMISSIVE mode silently
    nulls unparseable lines — at feed scale that turns a producer bug into
    quiet data loss; auditing the reject stream (count it, alert on it,
    quarantine it) is the production contract. One scan serves both
    frames; Spark's documented caveat applies: the corrupt column must be
    selected through a cache/checkpoint boundary or a separate filtered
    query, which is why both frames derive from one cached read. The cache
    is SCOPED TO THIS CALL: both frames are materialized to eager local
    checkpoints (lineage truncated, blocks owned by the frames and freed by
    the ContextCleaner when they are GC'd) and the raw JSON-scan cache is
    unpersisted before returning — repeated audited loads do not accumulate
    session-lifetime cached scans."""
    from pyspark.sql.types import StringType, StructField, StructType

    audit_schema = StructType(
        list(ARTICLE_SCHEMA.fields) + [StructField("_corrupt_record", StringType(), True)]
    )
    raw = (
        spark.read.schema(audit_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    corrupt = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    ).localCheckpoint(eager=True)
    clean = conform(
        _with_record_id(raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record"))
    ).localCheckpoint(eager=True)
    raw.unpersist()
    return clean, corrupt


def _empty(spark: SparkSession) -> DataFrame:
    empty = spark.createDataFrame([], ARTICLE_SCHEMA)
    return conform(empty).withColumn(RECORD_ID, F.lit(None).cast("long")).select(
        RECORD_ID, *ARTICLE_SCHEMA.fieldNames()
    ).where(F.lit(False))
