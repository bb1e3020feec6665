"""Paginated JSON-API replication as a batch driver (SURVEY.md §2.1 S1,
§3.1-3.3), with the reference's four bugs fixed (SURVEY.md §2.12):

1. page 1 is included in the accumulated result (outreach_etl.py:119
   fetched it but :136-155 dropped it);
2. no hidden module-global token state — auth is the fetcher's concern,
   injected, so there is nothing to go stale (outreach_etl.py:52-71);
3. retries are bounded and never re-append the previous page
   (outreach_etl.py:139-155's finally-append duplicated rows and a
   persistent error looped forever);
4. day chunking uses half-open [day, day+1) windows — no boundary
   double-fetch (outreach_etl.py:160-166 used inclusive date..date) —
   and the final keep-latest upsert makes re-pulled rows idempotent.

This module is the package's one paginated-replication path: window
querystring, page loop, bounded retry, column alignment and HTTP
transport. ``cli.py`` and ``sources/restapi.py`` only build a Fetcher.

Scale design: the driver only orchestrates; record flattening and
frame building run on executors. The distributed path partitions the
date range and fetches day-windows in parallel with ``mapInPandas`` —
one task per day, the Spark analog of the reference's adaptive
per-day re-plan (outreach_etl.py:127,157). The fetcher is an injected
callable (endpoint, params) → Page; :func:`http_fetcher` is the real one.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog import ensure_shipped
from .flatten import flatten_record
from .schema_loader import coerce_types


@dataclass
class Page:
    """One page of a JSON-API response."""

    data: list[dict[str, Any]] = field(default_factory=list)
    next_token: str | None = None  # opaque pagination cursor (links.next)
    total: int | None = None  # meta.count


# (endpoint, params) → Page; a continuation adds "page[next]": next_token
Fetcher = Callable[[str, dict[str, Any]], Page]


class FetchError(RuntimeError):
    """Raised when a page cannot be fetched within the retry budget."""


def _fetch_retry(
    fetcher: Fetcher, endpoint: str, params: dict[str, Any], max_retries: int
) -> Page:
    last: Exception | None = None
    for _ in range(max_retries):
        try:
            return fetcher(endpoint, params)
        except Exception as exc:  # noqa: BLE001 — fetcher errors are opaque
            last = exc
    raise FetchError(f"{endpoint}: {max_retries} attempts failed") from last


def window_params(lo: dt.date, hi: dt.date, page_size: int) -> dict[str, Any]:
    """Querystring for one half-open [lo, hi) updatedAt window.

    The server's range filter is INCLUSIVE on both ends — the reference
    sends single-day ``date..date`` windows (outreach_etl.py:166) — so
    the half-open Python bound converts to ``lo..hi-1day`` at the
    querystring boundary. Sending ``lo..hi`` would re-fetch every
    window's upper boundary day in the next window too, duplicating
    boundary days across adjacent partitions and micro-batches."""
    hi_incl = hi - dt.timedelta(days=1)
    return {
        "sort": "-updatedAt",
        "page[limit]": page_size,
        "filter[updatedAt]": f"{lo.isoformat()}..{hi_incl.isoformat()}",
    }


def params_window(params: dict[str, Any]) -> tuple[dt.date, dt.date]:
    """The half-open [lo, hi) window of a :func:`window_params` query."""
    lo, hi_incl = map(dt.date.fromisoformat, params["filter[updatedAt]"].split(".."))
    return lo, hi_incl + dt.timedelta(days=1)


def fetch_window(
    fetcher: Fetcher,
    endpoint: str,
    lo: dt.date,
    hi: dt.date,
    page_size: int = 100,
    max_retries: int = 3,
) -> list[dict[str, Any]]:
    """All records in [lo, hi), flattened — page 1 included (bug #1)."""
    params = window_params(lo, hi, page_size)
    page = _fetch_retry(fetcher, endpoint, params, max_retries)
    records = [flatten_record(r) for r in page.data]
    while page.next_token is not None:
        page = _fetch_retry(
            fetcher, endpoint, {**params, "page[next]": page.next_token}, max_retries
        )
        records.extend(flatten_record(r) for r in page.data)
    return records


def _urlopen_json(req: urllib.request.Request, timeout: float) -> Any:
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read())


def http_fetcher(base_url: str, token: Callable[[], str]) -> Fetcher:
    """The JSON-API GET (outreach_etl.py:96-119), Bearer ``token()`` per
    request. A window starts at ``{base_url}/{endpoint}?{window_params}``
    and continues at the server's ``links.next`` URL, verbatim. Errors
    propagate to the caller's retry loop."""

    def fetch(endpoint: str, params: dict[str, Any]) -> Page:
        url = params.get("page[next]") or (
            f"{base_url.rstrip('/')}/{endpoint}?{urllib.parse.urlencode(params)}"
        )
        headers = {"Authorization": f"Bearer {tok}"} if (tok := token()) else {}
        body = _urlopen_json(urllib.request.Request(url, headers=headers), timeout=60)
        return Page(body.get("data") or [], (body.get("links") or {}).get("next"),
                    (body.get("meta") or {}).get("count"))

    return fetch


def post_form(url: str, fields: dict[str, str]) -> Any:
    """POST a urlencoded form; the decoded JSON reply (OAuth refresh)."""
    data = urllib.parse.urlencode(fields).encode()
    return _urlopen_json(urllib.request.Request(url, data=data), timeout=30)


def day_windows(lo: dt.date, hi: dt.date) -> list[tuple[dt.date, dt.date]]:
    """Half-open daily windows covering [lo, hi) — no overlap (bug #4)."""
    days = []
    d = lo
    while d < hi:
        days.append((d, d + dt.timedelta(days=1)))
        d += dt.timedelta(days=1)
    return days


def replication_window(
    mode: str, start_date: dt.date, today: dt.date
) -> tuple[dt.date, dt.date]:
    """The reference's two modes (outreach_etl.py:223-229, README.md:42)
    as half-open windows: full = [start_date, today), previous_day =
    [today-1, today)."""
    if mode == "full":
        return start_date, today
    if mode == "previous_day":
        return today - dt.timedelta(days=1), today
    raise ValueError(f"unknown replication mode {mode!r}")


def align(record: dict[str, Any], names: list[str]) -> tuple[str | None, ...]:
    """One flat record as a row of the declared columns (absent → null —
    the concat-against-schema semantics of etl_tools.py:41), stringified
    for the all-string ingest frame that coerce_types finalizes."""
    return tuple(None if (v := record.get(n)) is None else str(v) for n in names)


def _records_to_pdf(records: list[dict[str, Any]], names: list[str]) -> pd.DataFrame:
    return pd.DataFrame([align(r, names) for r in records], columns=names, dtype=object)


def sync_endpoint(
    spark: SparkSession,
    fetcher: Fetcher,
    endpoint: str,
    ref_schema: dict[str, str],
    lo: dt.date,
    hi: dt.date,
    page_size: int = 100,
    large_threshold: int = 10_000,
    drop_columns: tuple[str, ...] = (),
    max_retries: int = 3,
    key_col: str = "id",
    ts_col: str = "attributes_updatedAt",
) -> DataFrame:
    """Replicate one endpoint over [lo, hi) into a typed DataFrame.

    Mirrors §3.1 steps 3-7: probe count → (adaptive) whole-window or
    distributed per-day fetch → schema-aligned union → dtype coercion →
    drop heavy columns → keep-latest upsert. The per-day path runs ONE
    task per day via mapInPandas, so a year's backfill fans out across
    the cluster instead of serializing through the driver.
    """
    names = [n for n in ref_schema if n not in drop_columns]
    sub_schema = {n: t for n, t in ref_schema.items() if n in set(names)}
    string_struct = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    )

    # meta.count probe (the adaptive-replan input), on the full retry
    # budget: it gates the whole sync
    params = window_params(lo, hi, page_size)
    total = _fetch_retry(fetcher, endpoint, params, max_retries).total
    if total is not None and total > large_threshold:
        days = [(a.isoformat(), b.isoformat()) for a, b in day_windows(lo, hi)]
        day_df = spark.createDataFrame(days, "d_lo string, d_hi string").repartition(
            max(1, min(len(days), spark.sparkContext.defaultParallelism))
        )
        ensure_shipped(spark)  # the workers below import this package

        def fetch_days(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for d_lo, d_hi in zip(pdf["d_lo"], pdf["d_hi"]):
                    recs = fetch_window(
                        fetcher, endpoint,
                        dt.date.fromisoformat(d_lo), dt.date.fromisoformat(d_hi),
                        page_size, max_retries,
                    )
                    if recs:
                        yield _records_to_pdf(recs, names)

        raw = day_df.mapInPandas(fetch_days, schema=string_struct)
    else:
        recs = fetch_window(fetcher, endpoint, lo, hi, page_size, max_retries)
        raw = spark.createDataFrame(_records_to_pdf(recs, names), schema=string_struct)

    typed = coerce_types(raw, sub_schema)
    if key_col in names:
        return upsert_latest(typed, key=key_col, ts=ts_col)
    return typed


def upsert_latest(
    df: DataFrame, key: str = "id", ts: str = "updatedAt"
) -> DataFrame:
    """Keep the latest version of each key (W1 form; SURVEY.md §2.9 T6).
    Deterministic: ties on ts resolve by row content hash (APIs that
    truncate updatedAt to whole seconds produce equal-ts versions
    routinely; without the hash the survivor was whichever row the
    partition sorted first, breaking replay idempotence — the same
    fix sinks/manifest.upsert carries)."""
    if ts not in df.columns:
        return df.dropDuplicates([key])
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc_nulls_last(), F.xxhash64(*df.columns).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def strip_prefix(df: DataFrame, prefix: str = "attributes_") -> DataFrame:
    """Bulk rename (outreach_etl.py:216 parity, SURVEY.md §2.2 P2)."""
    return df.toDF(*[c[len(prefix):] if c.startswith(prefix) else c
                     for c in df.columns])
