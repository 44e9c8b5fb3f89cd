"""Streaming near-duplicate candidates: MinHash-LSH over documents and
random-hyperplane LSH over embeddings.

Each stream runs its batch family's own recipe, row by row, then matches
band keys in state:

1. **Per-row bands, zero shuffle.** MinHash rows go through
   ``minhash_sig_row_expr`` and ``minhash_band_keys`` (operators/dedup.py):
   the expression the batch Arrow signature kernel is tested bit-equal to,
   and the batch band-key function itself. Embedding rows go through
   ``embedding_band_vals_udf`` (functions/vectors.py), the batch operator's
   band UDF. Both are stateless per-row projections, so CPU scales with the
   arrival rate and nothing is exchanged before the grouping.
2. **Band-keyed state.** Band rows group by (band_idx, band_key);
   ``applyInPandasWithState`` keeps the id list per band and emits a
   candidate pair (id_new, id_seen) the moment a new id lands in a band
   another id already occupies.

Invariant (asserted in tests/test_streaming.py): after draining any
micro-batch slicing of a corpus, the distinct candidate pairs equal the
batch band-self-join candidates — per-band state accumulates across
batches, so slicing cannot lose or invent a pair.

State is O(ids per band). In a long-running deployment the state would be
TTL'd with an event-time timeout (stale bands evicted) — the drain-mode
tests run timerless for the availableNow termination reason documented in
streaming/jobs.py. The watermarked variants use EventTimeTimeout, which is
what arms Spark's late-row filter in front of ``applyInPandasWithState``: a
row older than the watermark emits no pairs, touches no band state, and is
counted in the query progress as ``numRowsDroppedByWatermark``. Their
``ts`` column rides through the banding projection so every band row
carries its event time. Groups never set a timeout timestamp here —
eviction of stale bands is the documented production extension.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..constants import (
    EMB_DIM,
    EMB_LSH_BANDS,
    EMB_LSH_BITS_PER_BAND,
    EMB_LSH_PLANES,
    EMB_LSH_SEED,
)
from ..functions.vectors import embedding_band_vals_udf, hyperplane_matrix
from ..operators.dedup import minhash_band_keys, minhash_sig_row_expr, shingles_from_text_expr

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
    ]
)
DOC_TS_STREAM_SCHEMA = StructType(
    DOC_STREAM_SCHEMA.fields + [StructField("ts", TimestampType(), True)]
)
EMB_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)
EMB_TS_STREAM_SCHEMA = StructType(
    EMB_STREAM_SCHEMA.fields + [StructField("ts", TimestampType(), True)]
)

CAND_OUT_SCHEMA = "band_idx int, band_key string, id_new long, id_seen long"
CAND_STATE_SCHEMA = "ids array<long>"


def _band_match_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-(band_idx, band_key) matcher: emit (new, seen) for every new doc
    against every doc already in the band, then add the new docs."""
    band_idx, band_key = key
    if state.hasTimedOut:  # pragma: no cover - timerless in drain mode
        state.remove()
        return

    (seen,) = state.get if state.exists else ([],)
    seen = list(seen)
    seen_set = set(seen)
    out: list[tuple] = []
    new_ids: list[int] = []
    for pdf in pdfs:
        new_ids.extend(int(i) for i in pdf["id"])
    for i in sorted(set(new_ids)):
        if i in seen_set:
            continue  # redelivery of an already-indexed doc
        for s in seen:
            out.append((band_idx, band_key, i, s))
        seen.append(i)
        seen_set.add(i)

    state.update((seen,))
    if out:
        yield pd.DataFrame(out, columns=["band_idx", "band_key", "id_new", "id_seen"])


def _candidates(banded: DataFrame, timeout: str) -> DataFrame:
    """(band_idx, band_key, id_new, id_seen) from a stream of band rows."""
    return banded.groupBy("band_idx", "band_key").applyInPandasWithState(
        _band_match_fn,
        outputStructType=CAND_OUT_SCHEMA,
        stateStructType=CAND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def _minhash_bands(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, id, band_idx, band_key) for a (doc_id, text) stream; docs
    with no shingle have no signature and are dropped, as in the batch."""
    sh = docs.select(
        *keep,
        F.col("doc_id").alias("id"),
        shingles_from_text_expr(F.col("text")).alias("shingles"),
    ).where(F.size("shingles") > 0)
    return minhash_band_keys(
        sh.select(*keep, "id", minhash_sig_row_expr(F.col("shingles")).alias("sig"))
    )


def _embedding_bands(vecs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, id, band_idx, band_key) for a (vec_id, embedding) stream,
    band_val rendered to the string band_key of the shared matcher."""
    planes = hyperplane_matrix(EMB_LSH_PLANES, EMB_DIM, EMB_LSH_SEED)
    band_vals = embedding_band_vals_udf(planes, EMB_LSH_BANDS, EMB_LSH_BITS_PER_BAND)
    return vecs.select(
        *keep,
        F.col("vec_id").alias("id"),
        F.posexplode(band_vals(F.col("embedding"))).alias("band_idx", "band_val"),
    ).select(*keep, "id", "band_idx", F.col("band_val").cast("string").alias("band_key"))


def read_document_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.readStream.schema(DOC_STREAM_SCHEMA).json(src_dir)


def minhash_candidates_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """(band_idx, band_key, id_new, id_seen) candidate pairs, streamed."""
    docs = read_document_stream(spark, src_dir)
    return _candidates(_minhash_bands(docs), GroupStateTimeout.NoTimeout)


def minhash_candidates_stream_watermarked(
    spark: SparkSession,
    src_dir: str,
    delay: str = "30 minutes",
    reader_options: dict | None = None,
) -> DataFrame:
    """Watermarked variant for long-running deployments: documents carry an
    event time, the watermark bounds how late a document may arrive, and a
    doc older than the watermark is DROPPED BEFORE the stateful matcher
    (see the module docstring). ``reader_options`` passes through to the
    file-stream reader (e.g. ``maxFilesPerTrigger`` for source
    backpressure)."""
    docs = (
        spark.readStream.schema(DOC_TS_STREAM_SCHEMA)
        .options(**(reader_options or {}))
        .json(src_dir)
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", delay)
    )
    return _candidates(_minhash_bands(docs, "ts"), GroupStateTimeout.EventTimeTimeout)


def read_embedding_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.readStream.schema(EMB_STREAM_SCHEMA).json(src_dir)


def embedding_candidates_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """(band_idx, band_key, id_new, id_seen) candidate pairs from
    hyperplane-LSH bands over a vector stream."""
    vecs = read_embedding_stream(spark, src_dir).where(F.col("embedding").isNotNull())
    return _candidates(_embedding_bands(vecs), GroupStateTimeout.NoTimeout)


def embedding_candidates_stream_watermarked(
    spark: SparkSession, src_dir: str, delay: str = "30 minutes"
) -> DataFrame:
    """Watermarked twin of the embedding-LSH stream — same late-data
    contract as ``minhash_candidates_stream_watermarked``."""
    vecs = (
        spark.readStream.schema(EMB_TS_STREAM_SCHEMA)
        .json(src_dir)
        .where(F.col("embedding").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", delay)
    )
    return _candidates(_embedding_bands(vecs, "ts"), GroupStateTimeout.EventTimeTimeout)
