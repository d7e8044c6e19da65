"""Spark 4 Python Data Source API form of the NOAA feed reader.

The reference ingests the feed imperatively inside a stored procedure
(S1-S3); `sources/noaa_feed.py` holds its one parser. This module exposes
that parser's line form through the modern `pyspark.sql.datasource` API,
so landed feed files are a first-class format:

    spark.dataSource.register(NoaaFeedDataSource)
    spark.read.format("noaa_feed").option("path", p).load()   # file or dir
    spark.read.format("noaa_feed").option("numPartitions", 8).load()

Every line goes through ``noaa_feed.parse_line`` (S2/S4), so the rows are
those of ``parse_feed_text`` on a well-formed feed — pinned by
``tests/test_datasource.py``. The S3 regex fallback is a whole-document
policy of ``parse_feed_rows``, not a per-line format rule, and is not
applied here.

Scale shape: ``numPartitions`` line-striding (partition i parses lines
``i::n`` of every document). Each task re-reads the (small) feed files
and touches only its stride — the right trade for a feed measured in tens
of KB; a TB-scale text format would carry byte-range splits in its
InputPartitions instead.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .noaa_feed import RAW_SCHEMA, parse_line


def _parsed(lines: list[str]):
    return (r for ln in lines if (r := parse_line(ln)) is not None)


class _StridePartition(InputPartition):
    def __init__(self, index: int, stride: int):
        self.index = index
        self.stride = stride


class NoaaFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        self.text = options.get("text")
        if not self.path and self.text is None:
            raise ValueError("noaa_feed requires option 'path' or 'text'")
        self.n = int(options.get("numPartitions", "1"))

    def partitions(self):
        return [_StridePartition(i, self.n) for i in range(self.n)]

    def _documents(self) -> list[str]:
        if self.text is not None:
            return [self.text]
        if not os.path.isdir(self.path):
            paths = [self.path]
        else:  # a landing directory: its files in name order, skipping
            # hidden ones (``_SUCCESS``, ``.crc``) as Spark's file sources do
            paths = [
                p for e in sorted(os.listdir(self.path))
                if not e.startswith(("_", "."))
                and os.path.isfile(p := os.path.join(self.path, e))
            ]
        docs = []
        for p in paths:
            with open(p, encoding="utf-8") as f:
                docs.append(f.read())
        return docs

    def read(self, partition: _StridePartition):
        for doc in self._documents():
            yield from _parsed(doc.splitlines()[partition.index :: partition.stride])


class NoaaFeedStreamReader(SimpleDataSourceStreamReader):
    """Streaming form: each micro-batch parses the lines APPENDED to the
    feed file since the committed offset (offset = line count) — the
    incremental-feed shape of the reference pipeline as a first-class
    streaming source. Replayability: ``readBetweenOffsets`` re-reads an
    exact line range, so checkpoint recovery replays identical batches.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("streaming noaa_feed requires option 'path'")

    def _lines(self) -> list[str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                return f.read().splitlines()
        except FileNotFoundError:
            return []

    def initialOffset(self) -> dict:
        return {"line": 0}

    def read(self, start: dict):
        lines = self._lines()
        # a list iterator: Spark caches the batch by copy.copy(iterator),
        # which a generator cannot take
        return iter(list(_parsed(lines[start["line"] :]))), {"line": len(lines)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return _parsed(self._lines()[start["line"] : end["line"]])


class NoaaFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "noaa_feed"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> NoaaFeedReader:
        return NoaaFeedReader(self.options)

    def simpleStreamReader(self, schema) -> NoaaFeedStreamReader:
        return NoaaFeedStreamReader(self.options)
