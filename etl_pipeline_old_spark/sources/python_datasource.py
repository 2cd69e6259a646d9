"""Custom Spark Python DataSource (Spark 4 DataSource V2 API) for paginated
JSON feeds — the Spark-native form of the reference's driver-side REST
pagination loop (S7, extractors/fetch_yougile_programming.py:128-158).

Each page becomes an InputPartition, so page fetches run ON THE EXECUTORS
in parallel (the 100 TB shape for 10⁶-page APIs), with Catalyst seeing an
ordinary relation: ``spark.read.format("paged_json").load(dir)``.

The "API" here is a directory of page files (``page-*.json``, one JSON
object per line) — the offline-testable stand-in for an HTTP transport;
swapping ``_read_page`` for a real session call is the only change needed
for a live API.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class PagedJsonDataSource(DataSource):
    """``spark.read.format("paged_json").schema(...).load(dir)``."""

    @classmethod
    def name(cls) -> str:
        return "paged_json"

    def schema(self) -> str:
        # schema must be supplied by the caller (.schema(...)); offering a
        # default keeps the source usable for quick exploration
        return "value string"

    def reader(self, schema) -> "PagedJsonReader":
        return PagedJsonReader(schema, self.options)

    def streamReader(self, schema) -> "PagedJsonStreamReader":
        return PagedJsonStreamReader(schema, self.options)


class _PagePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


# rows per emitted RecordBatch: large enough that the per-batch Arrow
# hand-off overhead vanishes, small enough that one out-of-contract giant
# page file cannot spike executor Python memory (r14 ADVICE — the
# whole-file buffering this replaces was O(page size))
_BATCH_ROWS = 10_000


def _read_page(path: str, schema):
    """Yield Arrow RecordBatches for a page file, ``_BATCH_ROWS`` at a time.

    The DataSource API accepts pyarrow.RecordBatch yields as well as
    per-row tuples; batched columnar hand-off replaces ~rows-per-page
    individual tuple pickles per task (guide §4.1 — control HOW data
    crosses the Python boundary), while the bounded batch size keeps
    memory flat regardless of page size. Parsing stays json.loads per
    line (identical values, incl. None for absent keys); batches are
    built against the DECLARED schema so inference can never drift from
    the tuple path's types. Falls back to tuple yields if the Arrow
    conversion is unavailable for a schema.

    Spark reads a partition's stream as RecordBatches or as tuples
    according to its FIRST element, so the first flush latches the mode:
    once it falls back to tuples every later flush yields tuples too, and
    a later batch that fails to convert after RecordBatches were emitted
    raises its conversion error rather than mixing in tuples.
    """
    fields = [f.name for f in schema.fields]
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
    except Exception:
        pa = None
    emitted = False

    def flush(cols):
        nonlocal pa, emitted
        if pa is not None:
            try:
                batch = pa.RecordBatch.from_pydict(cols, schema=arrow_schema)
            except Exception:
                if emitted:
                    raise
                pa = None
            else:
                emitted = True
                yield batch
                return
        for i in range(len(cols[fields[0]]) if fields else 0):
            yield tuple(cols[k][i] for k in fields)

    cols: dict = {k: [] for k in fields}
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                for k in fields:
                    cols[k].append(rec.get(k))
                n += 1
                if n >= _BATCH_ROWS:
                    yield from flush(cols)
                    cols = {k: [] for k in fields}
                    n = 0
    if n:
        yield from flush(cols)


class PagedJsonReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json requires a path")

    def partitions(self):
        # page-*.json: hand-staged API pages; part-*.json: pages staged by a
        # distributed Spark write (maxRecordsPerFile) — either way, one
        # InputPartition per page file.
        pages = sorted(
            glob.glob(os.path.join(self.path, "page-*.json"))
            + glob.glob(os.path.join(self.path, "part-*.json"))
        )
        return [_PagePartition(p) for p in pages]

    def read(self, partition: _PagePartition):
        yield from _read_page(partition.path, self.schema)


def register(spark) -> None:
    spark.dataSource.register(PagedJsonDataSource)


# ---------------------------------------------------------------------------
# Streaming reader: offset-tracked consumption of a growing page feed
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class PagedJsonStreamReader(DataSourceStreamReader):
    """Offset-tracked streaming read of the page feed.

    The offset is ``{"upto": name}`` — the lexicographically LAST page
    file consumed, the streaming-native form of the reference's
    incremental fetch loop keyed on a monotone cursor
    (extractors/fetch_asterisk_cdr.py:39-58). The feed contract is the
    same as the K2 sink's: new pages must sort strictly AFTER consumed
    ones (page numbers/cursors are monotone). A name-watermark offset is
    chosen over a count offset deliberately: an out-of-contract file that
    sorts into the consumed prefix is SKIPPED (visible data gap), whereas
    a count offset would silently RE-EMIT already-committed pages —
    duplicates are the worse failure for an exactly-once pipeline.
    Each micro-batch turns the newly arrived pages into one
    InputPartition each, so page reads still run ON THE EXECUTORS in
    parallel; the driver only lists the feed. Restart recovery is free:
    Structured Streaming replays from the last committed offset, and
    ``partitions(start, end)`` regenerates exactly the uncommitted range.
    """

    def __init__(self, schema, options):
        self._schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json requires a path")

    def _pages(self) -> list[str]:
        return sorted(
            glob.glob(os.path.join(self.path, "page-*.json"))
            + glob.glob(os.path.join(self.path, "part-*.json"))
        )

    def initialOffset(self) -> dict:
        return {"upto": ""}

    def latestOffset(self) -> dict:
        pages = self._pages()
        return {"upto": os.path.basename(pages[-1]) if pages else ""}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["upto"], end["upto"]
        pages = [
            p for p in self._pages() if lo < os.path.basename(p) <= hi
        ]
        return [_PagePartition(p) for p in pages]

    def read(self, partition: _PagePartition):
        yield from _read_page(partition.path, self._schema)

    def commit(self, end: dict) -> None:
        pass  # feed files are immutable; nothing to release
