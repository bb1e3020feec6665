"""Seeded, in-process stand-in for the Outreach JSON-API.

``FakeOutreachApi`` is the ``Fetcher`` the replication CLI is given: a
pure function of ``(seed, endpoint, params)``. Every number it derives
comes from ``mix`` (splitmix64), never from Python's per-process salted
``hash()``, so the driver and every Python worker serve identical pages.

Each endpoint has a daily volume. On day ``k`` of the window it serves
``new`` records with fresh ids plus ``REPULL_SHARE`` as many
*re-pulls*: ids first served on an earlier day, served again with that
day's newer ``updatedAt``. The replication's keep-latest upsert must
collapse them, so :meth:`FakeOutreachApi.expected` computes, from the
seed alone, the id set and latest ``updatedAt`` each written table
must hold, and :meth:`FakeOutreachApi.needed_calls` the number of
requests a sync that fetches every page once needs.

Calls and records served are counted through Spark accumulators, so
calls made inside Python workers (the per-day ``mapInPandas`` path)
are counted too.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

_MASK = (1 << 64) - 1

# Traffic shape. Both figures are assumptions, not measured from the
# real API or taken from the reference tool: no export or fixture in
# the repository gives them.
REPULL_SHARE = 0.1  # re-pulled ids per new record on a day
SET_EVERY = 4  # one attribute in SET_EVERY of a record is set, the rest null


def mix(*parts: int) -> int:
    """splitmix64 over a sequence of integers: a stable 64-bit hash."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = (h ^ (p & _MASK)) & _MASK
        h = (h + 0x9E3779B97F4A7C15) & _MASK
        z = h
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
        h = z ^ (z >> 31)
    return h


def _name_code(name: str) -> int:
    return int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "little")


def _template(columns: dict[str, str]) -> list[tuple[tuple[str, ...], str, int]]:
    """Nested JSON-API paths for a flat declared schema.

    The flatten operator joins nested keys with ``_``, so each declared
    column is one path. A column that is also the prefix of another
    (``relationships_x_data`` beside ``relationships_x_data_id``) is a
    JSON null in the real API; it is left out here.
    """
    names = set(columns)
    out = []
    for i, (name, kind) in enumerate(sorted(columns.items())):
        if name == "id" or any(o.startswith(name + "_") for o in names):
            continue
        out.append((tuple(name.split("_")), kind, i))
    return out


class FakeOutreachApi:
    """Fetcher ``(endpoint, params) -> Page`` over seeded records."""

    def __init__(
        self,
        seed: int,
        schemas: dict[str, dict[str, str]],
        daily_new: dict[str, int],
        start: dt.date,
        days: int,
        calls=None,
        records=None,
    ) -> None:
        self.seed = seed
        self.daily_new = dict(daily_new)
        self.start = start
        self.days = days
        self.templates = {e: _template(s) for e, s in schemas.items()}
        self.calls = calls
        self.records = records

    # -- the day plan: which (id, second-of-day) versions day k serves --

    def _new_count(self, endpoint: str, k: int) -> int:
        base = self.daily_new[endpoint]
        jitter = mix(self.seed, _name_code(endpoint), k, 1) % (base // 5 + 1)
        return base - base // 10 + jitter

    def _first_id(self, endpoint: str, k: int) -> int:
        return sum(self._new_count(endpoint, j) for j in range(k))

    def day_versions(self, endpoint: str, k: int) -> list[tuple[int, int]]:
        """Versions updated on day ``k``: ``(id, second of day)``, in
        the API's ``-updatedAt`` order (newest first, then id)."""
        code = _name_code(endpoint)
        lo = self._first_id(endpoint, k)
        n_new = self._new_count(endpoint, k)
        ids = set(range(lo, lo + n_new))
        if lo:
            for j in range(int(n_new * REPULL_SHARE)):
                ids.add(mix(self.seed, code, k, j, 2) % lo)
        out = [(i, mix(self.seed, code, k, i, 3) % 86_400) for i in ids]
        out.sort(key=lambda v: (-v[1], v[0]))
        return out

    def _window(self, endpoint: str, lo: dt.date, hi: dt.date):
        k_lo = max(0, (lo - self.start).days)
        k_hi = min(self.days - 1, (hi - self.start).days)
        for k in range(k_hi, k_lo - 1, -1):
            for rid, sec in self.day_versions(endpoint, k):
                yield k, rid, sec

    # -- the Fetcher protocol --

    def __call__(self, endpoint: str, params: dict[str, Any]):
        from outreach_etl_tool_spark.ingest.rest import Page

        if self.calls is not None:
            self.calls.add(1)
        lo_s, hi_s = params["filter[updatedAt]"].split("..")
        limit = int(params["page[limit]"])
        offset = int(params.get("page[next]", 0))
        window = list(
            self._window(endpoint, dt.date.fromisoformat(lo_s),
                         dt.date.fromisoformat(hi_s))
        )
        page = window[offset: offset + limit]
        if self.records is not None:
            self.records.add(len(page))
        nxt = offset + limit
        return Page(
            data=[self._record(endpoint, k, rid, sec) for k, rid, sec in page],
            next_token=str(nxt) if nxt < len(window) else None,
            total=len(window),
        )

    def _record(self, endpoint: str, k: int, rid: int, sec: int) -> dict:
        day = self.start + dt.timedelta(days=k)
        stamp = f"{day.isoformat()}T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}.000Z"
        rec: dict[str, Any] = {"id": rid}
        for path, kind, ci in self.templates[endpoint]:
            if path == ("attributes", "updatedAt"):
                val: Any = stamp
            elif (rid + ci) % SET_EVERY:
                val = None
            elif kind == "string":
                val = f"{path[-1]}-{rid}-{k}"
            elif kind == "integer":
                val = (rid * 7 + ci * 13 + k) % 100_003
            elif kind == "float":
                val = ((rid * 31 + ci) % 100_000) / 100.0
            elif kind == "boolean":
                val = (rid + ci + k) % 2 == 0
            else:
                val = stamp
            node = rec
            for key in path[:-1]:
                node = node.setdefault(key, {})
            node[path[-1]] = val
        return rec

    # -- what a correct sync of the whole window must produce --

    def expected(self, endpoint: str) -> dict[int, dt.datetime]:
        """id → latest ``updatedAt`` over the whole window."""
        latest: dict[int, dt.datetime] = {}
        for k in range(self.days):
            day = dt.datetime.combine(self.start + dt.timedelta(days=k), dt.time())
            for rid, sec in self.day_versions(endpoint, k):
                latest[rid] = day + dt.timedelta(seconds=sec)
        return latest

    def window_total(self, endpoint: str) -> int:
        return sum(len(self.day_versions(endpoint, k)) for k in range(self.days))

    def needed_calls(self, endpoint: str, page_size: int, large_threshold: int) -> int:
        """One count probe plus every page fetched once: per day when
        the window exceeds ``large_threshold``, else for the window."""
        total = self.window_total(endpoint)
        if total > large_threshold:
            pages = sum(
                max(1, math.ceil(len(self.day_versions(endpoint, k)) / page_size))
                for k in range(self.days)
            )
        else:
            pages = max(1, math.ceil(total / page_size))
        return 1 + pages
