"""``format("restapi")``: the paginated JSON-API extract (SURVEY.md §2.1
S1) as a Python Data Source, batch and streaming.

Usage::

    from outreach_etl_tool_spark.sources import register
    register(spark)
    df = (spark.read.format("restapi")
          .option("endpoint", "prospects")
          .option("schema_file", "/path/schemas/prospects.json")
          .option("start", "2024-03-01").option("end", "2024-03-08")
          .option("base_url", "https://api.example.com/api/v2")  # or dir_url
          .option("page_size", "100")
          .load())

A thin adapter: ``ingest/rest.py`` owns the window querystring, paging,
retries, column alignment and HTTP transport. This module turns the
options into a ``rest.Fetcher`` — ``base_url`` with the static ``token``,
or ``dir_url``, a replay of ``{endpoint}/{day}/page{N}.json`` files —
and steps ``rest.day_windows``: one input partition per day in batch
(a year's backfill is 365 parallel tasks), one stride of days per
micro-batch in ``spark.readStream``. Rows are all-string; callers finish
with ``coerce_types`` + ``upsert_latest``, like the CLI.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterator
from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

from ..catalog import ensure_shipped
from ..ingest import rest


@dataclass
class DayWindow(InputPartition):
    lo: str  # ISO date, inclusive
    hi: str  # ISO date, exclusive


def _day_windows(lo: str, hi: str) -> list[DayWindow]:
    days = rest.day_windows(dt.date.fromisoformat(lo), dt.date.fromisoformat(hi))
    return [DayWindow(a.isoformat(), b.isoformat()) for a, b in days]


def _replay_fetcher(root: str) -> rest.Fetcher:
    """Each day's ``page*.json`` files in name order; the cursor is the
    next file's index."""

    def fetch(endpoint: str, params: dict[str, Any]) -> rest.Page:
        files = [f for d, _ in rest.day_windows(*rest.params_window(params))
                 for f in sorted((Path(root) / endpoint / d.isoformat()).glob("page*.json"))]
        i = int(params.get("page[next]", 0))
        if i >= len(files):
            return rest.Page()
        data = json.loads(files[i].read_text()).get("data") or []
        return rest.Page(data, str(i + 1) if i + 1 < len(files) else None)

    return fetch


class _Reader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.names = [f.name for f in schema.fields]
        self.options = options
        if "dir_url" in options:
            self.fetcher = _replay_fetcher(options["dir_url"])
        else:
            token = options.get("token", "")
            self.fetcher = rest.http_fetcher(options["base_url"], lambda: token)

    def partitions(self) -> list[DayWindow]:
        return _day_windows(self.options["start"], self.options["end"])

    def read(self, partition: DayWindow) -> Iterator[tuple]:
        for record in rest.fetch_window(
            self.fetcher, self.options["endpoint"],
            dt.date.fromisoformat(partition.lo), dt.date.fromisoformat(partition.hi),
            int(self.options.get("page_size", "100")),
        ):
            yield rest.align(record, self.names)


class _StreamReader(SimpleDataSourceStreamReader):
    """Streaming tail: offset = next unread day — the reference's
    `previous_day` cron mode (outreach_etl.py:227-229) with replayable
    offsets. Reads run on the driver; bulk backfill stays on the batch
    reader. Never reads today (still receiving updates) or past the
    exclusive `end`, so `trigger(availableNow=True)` drains and stops.
    A batch after downtime catches up `max_days_per_batch` days at once.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self.inner = _Reader(schema, options)
        self.start = options["start"]
        self.end = options.get("end")
        self.max_days = int(options.get("max_days_per_batch", "30"))

    def initialOffset(self) -> dict:
        return {"next_day": self.start}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        today = dt.date.today().isoformat()
        bound = min(self.end, today) if self.end else today
        if start["next_day"] >= bound:
            return iter(()), start  # caught up: offset unchanged
        stride = dt.date.fromisoformat(start["next_day"]) + dt.timedelta(days=self.max_days)
        end = {"next_day": min(bound, stride.isoformat())}
        # a list, not a generator: Spark's prefetch cache copy.copy()s
        # the iterator, and a failed day must fail before any offset
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        for w in _day_windows(start["next_day"], end["next_day"]):
            yield from self.inner.read(w)


class RestApiDataSource(DataSource):
    """``spark.read.format("restapi")`` / ``spark.readStream.format("restapi")``
    — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "restapi"

    def schema(self) -> StructType:
        with open(self.options["schema_file"]) as fh:
            return StructType([StructField(n, StringType(), True) for n in json.load(fh)])

    def reader(self, schema: StructType) -> _Reader:
        return _Reader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> _StreamReader:
        return _StreamReader(schema, dict(self.options))


def register(spark) -> None:
    ensure_shipped(spark)  # the readers run in workers that import this package
    spark.dataSource.register(RestApiDataSource)
