"""Streaming twin of the reference's cleaning pipeline (pipe_run,
cleaner.py:284-393): a continuously-arriving article feed is cleaned,
incomplete rows are dropped, duplicates are suppressed first-arrival-wins,
and validated records are appended downstream — the shape article ingest
has when the scraper feeds a directory/queue instead of one batch file.

The stateless stages REUSE the batch expressions (``clean_articles``,
``complete_expr``, ``with_validation``) — identical logical plans, so
batch and stream cannot drift. The one stateful stage is dedup:

- batch ``dedup_keep_first`` = first record_id per normalized (title, url);
- stream = ``dropDuplicates`` on the same normalized key: state is one
  entry per distinct key, first ARRIVAL wins. With the feed replayed in
  record order the two are identical; under reordering they differ exactly
  as an at-least-once pipeline differs from a batch re-sort.

State is unbounded here because the article fixture has no event time; a
production feed caps it with ``dropDuplicatesWithinWatermark`` over an
ingest timestamp (see ``dedup_stream`` in jobs.py for that pattern over
events). Micro-batch boundaries never change the SET of surviving keys —
only which physical row represents a key when duplicates share one
micro-batch (same as the batch plan without the record_id tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..domains.articles import article_rules
from ..operators.validate import with_validation
from ..pipeline import clean_articles, complete_expr
from ..schema import ARTICLE_SCHEMA, RECORD_ID

# the JSONL feed carries the ingest-order record id assigned upstream
ARTICLE_FEED_SCHEMA = StructType(
    [StructField(RECORD_ID, LongType(), True), *ARTICLE_SCHEMA.fields]
)


def article_feed(spark: SparkSession, src_dir: str) -> DataFrame:
    """Schema-on-read JSONL article feed (splittable; no inference pass —
    inference would scan the whole directory before the query starts and
    freeze the schema to whichever files existed then)."""
    return (
        spark.readStream.schema(ARTICLE_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )


def clean_valid_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """load → clean → drop incomplete → keep-first dedup → validate →
    valid records, as one incremental query. Returns the append-mode
    stream of valid cleaned articles (verdict columns dropped, like the
    batch pipeline's saved output)."""
    cleaned = clean_articles(article_feed(spark, src_dir))
    deduped = cleaned.where(complete_expr()).dropDuplicates(["title", "url"])

    validated = with_validation(deduped, article_rules())
    return validated.where(F.col("passed")).drop("passed", "reason", "message")
