"""Article envelope reader as a Spark 4 Python DataSource.

``load_articles`` (articles_json.py) parses a pretty-printed envelope file
through ``spark.read.json(multiLine=True)`` — one document, one split. This
module exposes the same 4-envelope contract (cleaner.py:124-143: top-level
array / ``{"articles": [...]}`` wrapper / bare object / null) as a custom
``DataSource`` registered under the format name ``articles_envelope``:

    spark.dataSource.register(ArticlesEnvelopeDataSource)
    spark.read.format("articles_envelope").load("/feeds/batch-*/")

Why this exists: it is the idiomatic Spark 4 extension point for a custom
connector — scan planning on the driver (`partitions()`), record decoding on
executors (`read()` per partition), no RDD plumbing. A DIRECTORY of envelope
files becomes one InputPartition per file, so a 10k-file feed drop parses on
every core while each file keeps its internal ingest order; that is the
shape that scales, where the multiLine reader serializes on one task per
document. Batch-only: a feed tail would implement DataSourceStreamReader on
the same partition logic; the streaming twin in streaming/articles.py
already covers that path with file-source micro-batches.

record_id layout: ``(file_seq << 32) | position`` — file_seq is the file's
rank in the sorted listing, position the record's index inside its file.
Ingest order is total and reproducible across runs and cluster sizes; for a
single file it reduces to the same 0..n-1 ids ``load_articles`` assigns
(pinned by test).
"""

from __future__ import annotations

import json
import os
import sys
from typing import Iterator

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..schema import ARTICLE_COLUMNS, RECORD_ID

# Spark pickles a registered source class by reference, so each Python
# worker would have to import this package, and one started outside the repo
# root with no PYTHONPATH cannot. Pickled by value, the reader code travels
# with the class, however the class gets registered.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_DDL = ", ".join([f"{RECORD_ID} long"] + [f"{c} string" for c in ARTICLE_COLUMNS])


def _list_envelope_files(path: str) -> list[str]:
    """One file → [file]; directory → sorted *.json members (sorted so
    file_seq, and with it record_id, is deterministic)."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json")
        )
    return [path]


def _envelope_records(doc) -> list:
    """The reference's envelope dispatch (cleaner.py:124-143): array → rows,
    wrapper → its array (null payload → empty), bare object → one row,
    null → empty."""
    if doc is None:
        return []
    if isinstance(doc, list):
        return [r for r in doc if isinstance(r, dict)]
    if isinstance(doc, dict) and "articles" in doc:
        arr = doc["articles"]
        if isinstance(arr, list):
            return [r for r in arr if isinstance(r, dict)]
        # non-list "articles" value: the reference FALLS THROUGH
        # (cleaner.py:137-142) and wraps the whole dict as one record
    if isinstance(doc, dict):
        return [doc]
    return []


def _cell(v) -> str | None:
    """Stringify a JSON value for the all-string article schema: strings
    pass through, null stays null, anything else (number/bool/nested) is
    compact JSON — the declared canonical form for non-string fields."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"))


class _EnvelopeFilePartition(InputPartition):
    def __init__(self, file_seq: int, path: str):
        self.file_seq = file_seq
        self.path = path


class _ArticlesEnvelopeReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("articles_envelope requires a path: .load(<file-or-dir>)")
        self._files = _list_envelope_files(path)

    def partitions(self) -> list[InputPartition]:
        # driver-side scan planning: one partition per envelope file
        return [_EnvelopeFilePartition(i, f) for i, f in enumerate(self._files)]

    def read(self, partition: _EnvelopeFilePartition) -> Iterator[tuple]:
        # executor-side decode of one file; corrupt documents yield no rows
        # (mirrors _corrupt_record), and per-file column presence decides
        # the published→published_date alias (conform()'s frame-level rule
        # at file grain) — both inside _file_rows
        yield from _file_rows(partition.file_seq, partition.path)


def _file_rows(file_seq: int, path: str) -> list[tuple]:
    """Decode one envelope file into schema-ordered row tuples (shared by
    the batch partitions and the stream reader)."""
    with open(path, encoding="utf-8") as fh:
        try:
            doc = json.load(fh)
        except json.JSONDecodeError:
            return []
    records = _envelope_records(doc)
    has_pub_date = any("published_date" in r for r in records)
    base = file_seq << 32
    rows = []
    for pos, rec in enumerate(records):
        row = [base | pos]
        for c in ARTICLE_COLUMNS:
            if c == "published_date" and not has_pub_date:
                row.append(_cell(rec.get("published")))
            else:
                row.append(_cell(rec.get(c)))
        rows.append(tuple(row))
    return rows


class _ArticlesEnvelopeStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail of a feed directory. Offset = number of files
    consumed over the SORTED listing, so the source assumes append-ordered
    names (timestamped/sequence-numbered drops — the usual feed contract);
    a late file sorting before a consumed one would be skipped. Simple
    stream readers run on the DRIVER by design (planning and decode in one
    process — the right shape for low-volume control feeds); the
    partition-parallel batch reader stays the bulk path.

    Backpressure: ``maxFilesPerBatch`` caps how many files one micro-batch
    admits (the file-grain analog of ``maxFilesPerTrigger``). Without a
    cap, a consumer restarted after downtime would decode the whole backlog
    into ONE batch — unbounded driver memory and a commit so large a crash
    replays everything; with the cap, catch-up proceeds in bounded,
    individually-committed steps."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("articles_envelope requires a path: .load(<dir>)")
        self._path = path
        self._max_files = int(options.get("maxFilesPerBatch", 0)) or None

    def initialOffset(self) -> dict:
        return {"n": 0}

    def _rows_between(self, lo: int, hi: int) -> list[tuple]:
        # a LIST, not a generator: the runner pickles the prefetched rows
        # into its cache so an un-committed batch can be replayed
        files = _list_envelope_files(self._path)
        rows: list[tuple] = []
        for seq in range(lo, min(hi, len(files))):
            rows.extend(_file_rows(seq, files[seq]))
        return rows

    def read(self, start: dict):
        files = _list_envelope_files(self._path)
        hi = len(files)
        if self._max_files is not None:
            hi = min(hi, start["n"] + self._max_files)
        if hi == start["n"]:
            # caught up: the runner's cache guard calls next() on the
            # payload when the offset did not advance, so hand it an
            # EMPTY ITERATOR (a bare list would TypeError); advancing
            # batches stay lists — the prefetch cache pickles them
            return iter(()), {"n": hi}
        return self._rows_between(start["n"], hi), {"n": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: same sorted listing, same slice
        return self._rows_between(start["n"], end["n"])


class ArticlesEnvelopeDataSource(DataSource):
    """Format name ``articles_envelope``; fixed article schema (+record_id).
    Batch: one InputPartition per file. Stream: file-count offsets over the
    sorted listing (SimpleDataSourceStreamReader)."""

    @classmethod
    def name(cls) -> str:
        return "articles_envelope"

    def schema(self) -> str:
        return _DDL

    def reader(self, schema) -> DataSourceReader:
        return _ArticlesEnvelopeReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _ArticlesEnvelopeStreamReader(self.options)


def load_articles_pyds(spark: SparkSession, path: str) -> DataFrame:
    """Register (idempotent) + read a file or directory of envelope files
    through the custom source."""
    spark.dataSource.register(ArticlesEnvelopeDataSource)
    return spark.read.format("articles_envelope").load(path)
