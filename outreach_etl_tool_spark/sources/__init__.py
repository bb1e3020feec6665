"""Custom sources (SURVEY.md §2.1 S1 scale path, §4 "custom work").

`RestApiDataSource` is the PySpark Python Data Source form of the
reference's paginated REST extract: `spark.read.format("restapi")`
with one input partition per day-window, so a year's backfill fans out
across the cluster and each executor pages through its own window —
the distributed analog of outreach_etl.py:157-188's sequential per-day
loop. Paging, retries and the HTTP transport are ``ingest/rest.py``'s;
the source only turns its options into a fetcher and steps the days.
"""

from .files import (
    corrupt_stats,
    read_documents_csv,
    read_documents_jsonl,
    split_corrupt,
)
from .restapi import RestApiDataSource, register

__all__ = [
    "RestApiDataSource",
    "register",
    "read_documents_jsonl",
    "read_documents_csv",
    "split_corrupt",
    "corrupt_stats",
]
