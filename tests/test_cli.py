"""End-to-end CLI replication test: config in → partitioned parquet
out, reference semantics (drop heavy columns, strip prefix, table
naming, upsert) across all three endpoints with a fake API."""

from __future__ import annotations

import datetime as dt
import functools
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from outreach_etl_tool_spark import cli
from outreach_etl_tool_spark.cli import run_replication
from outreach_etl_tool_spark.ingest import rest
from outreach_etl_tool_spark.ingest.rest import Page
from outreach_etl_tool_spark.sources import register


def fake_api(rows_by_endpoint):
    def fetcher(endpoint: str, params: dict) -> Page:
        lo, hi = params["filter[updatedAt]"].split("..")
        sel = [
            r for r in rows_by_endpoint.get(endpoint, [])
            # real server semantics: date..date is inclusive..inclusive
            if lo <= r["attributes"]["updatedAt"][:10] <= hi
        ]
        off = int(params.get("page[next]", 0))
        chunk = sel[off: off + 2]
        nxt = off + 2 if off + 2 < len(sel) else None
        return Page(chunk, None if nxt is None else str(nxt), len(sel))

    return fetcher


def resource(endpoint: str, rid: int, day: str, **attrs) -> dict:
    return {
        "id": rid,
        "type": endpoint[:-1],
        "attributes": {"updatedAt": f"{day}T08:00:{rid % 60:02d}", **attrs},
    }


class CaptureNotifier:
    def __init__(self):
        self.messages = []

    def notify(self, subject, body):
        self.messages.append((subject, body))


def test_run_replication_end_to_end(spark, tmp_path):
    rows = {
        "prospects": [
            resource("prospects", i, "2024-03-01", firstName=f"p{i}",
                     emails=[f"a{i}@x.com"]) for i in range(5)
        ] + [
            # re-pulled prospect 0 with a newer update — upsert keeps it
            resource("prospects", 0, "2024-03-02", firstName="p0-new"),
        ],
        "sequences": [
            resource("sequences", i, "2024-03-01", name=f"s{i}", openCount=i)
            for i in range(3)
        ],
        "mailings": [
            resource("mailings", i, "2024-03-01", subject=f"m{i}",
                     bodyHtml="<b>HEAVY</b>", bodyText="HEAVY")
            for i in range(4)
        ],
        "accounts": [
            resource("accounts", i, "2024-03-01", name=f"co{i}",
                     domain=f"co{i}.com", numberOfEmployees=i * 10)
            for i in range(2)
        ],
        "opportunities": [
            resource("opportunities", i, "2024-03-02", name=f"deal{i}",
                     amount=1000.5 * (i + 1)) for i in range(3)
        ],
    }
    config = {
        "replication_type": "full",
        "start_date": "2024-03-01",
        "table": "acme",
    }
    notifier = CaptureNotifier()
    out_dir = str(tmp_path / "out")
    results = run_replication(
        spark, config, out_dir, fetcher=fake_api(rows), notifier=notifier,
        today=dt.date(2024, 3, 3),
    )
    assert results == {"acme_prospects": 5, "acme_sequences": 3,
                       "acme_mailings": 4, "acme_accounts": 2,
                       "acme_opportunities": 3}

    prospects = spark.read.parquet(f"{out_dir}/acme_prospects")
    # prefix stripped (reference :216) and upsert kept the newer version
    assert "firstName" in prospects.columns
    row0 = prospects.filter(prospects.id == 0).collect()[0]
    assert row0["firstName"] == "p0-new"
    # day-partitioned output
    assert "sync_day" in prospects.columns

    mailings = spark.read.parquet(f"{out_dir}/acme_mailings")
    # heavy body columns never materialize (reference :105-107)
    assert "bodyHtml" not in mailings.columns
    assert "bodyText" not in mailings.columns
    assert "subject" in mailings.columns

    # the two reference-routed endpoints without reference schema files
    # sync through the same path on condensed repo-local contracts
    accounts = spark.read.parquet(f"{out_dir}/acme_accounts")
    assert {"name", "domain", "numberOfEmployees"} <= set(accounts.columns)
    opps = spark.read.parquet(f"{out_dir}/acme_opportunities")
    got_amounts = sorted(r["amount"] for r in opps.collect())
    assert got_amounts == [1000.5, 2001.0, 3001.5]

    assert notifier.messages and "acme" in notifier.messages[0][0]


def test_cli_previous_day_window(spark, tmp_path):
    rows = {
        "prospects": [
            resource("prospects", 1, "2024-03-01", firstName="old"),
            resource("prospects", 2, "2024-03-02", firstName="yesterday"),
        ],
        "sequences": [], "mailings": [], "accounts": [], "opportunities": [],
    }
    config = {"replication_type": "previous_day",
              "start_date": "2024-01-01", "table": "t"}
    results = run_replication(
        spark, config, str(tmp_path / "o"), fetcher=fake_api(rows),
        notifier=CaptureNotifier(), today=dt.date(2024, 3, 3),
    )
    # only the 03-02 row is in [today-1, today)
    assert results["t_prospects"] == 1


def test_cli_list_and_query_subcommands(spark, capsys):
    from outreach_etl_tool_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "funnel" in out and "sql-oracle" in out

    assert main(["query", "agg_count", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n_rows"' in out

    assert main(["query", "no_such_query"]) == 2

    assert main(["explain", "top_k_orders", "--sf-dir",
                 "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "TakeOrderedAndProject" in out


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    from outreach_etl_tool_spark.cli import main

    stmt = ("SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo "
            "FROM orders JOIN customer ON o_custkey = c_custkey")
    assert main(["sql", stmt, "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n"' in out and '"lo"' in out

    # named parameters bind as literals (parameterized SQL, no splicing)
    assert main(["sql",
                 "SELECT COUNT(*) AS n FROM orders "
                 "WHERE o_orderpriority = :prio",
                 "--param", "prio=1-URGENT",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n"' in out

    # @file form + --explain prints a plan, not rows
    f = tmp_path / "q.sql"
    f.write_text("SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1")
    assert main(["sql", f"@{f}", "--sf-dir", "/root/testdata/sf0.001",
                 "--explain"]) == 0
    out = capsys.readouterr().out
    assert "HashAggregate" in out


def test_cli_compact_subcommand(spark, tmp_path, capsys):
    import glob
    import json as _json

    from outreach_etl_tool_spark.cli import main

    frag = str(tmp_path / "frag")
    spark.range(0, 50_000).repartition(16).write.parquet(frag)
    dest = str(tmp_path / "out")
    assert main(["compact", frag, dest, "--target-mb", "1"]) == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["files"] == len(glob.glob(f"{dest}/*.parquet"))
    assert spark.read.parquet(dest).count() == 50_000


def test_per_day_sync_fetches_each_page_once(spark, tmp_path, monkeypatch):
    """The row count rides the write job: a second count() would re-run
    the per-day mapInPandas fetch and request every page again."""
    # 4 prospects on 03-01, 3 on 03-02: two 2-row pages per day
    api = fake_api({"prospects": [
        resource("prospects", i, f"2024-03-0{1 + i % 2}") for i in range(7)]})
    calls = spark.sparkContext.accumulator(0)

    def fetcher(endpoint: str, params: dict) -> Page:
        calls.add(endpoint == "prospects")
        return api(endpoint, params)

    monkeypatch.setattr(cli, "sync_endpoint",  # 7 rows > 3: one task per day
                        functools.partial(rest.sync_endpoint, large_threshold=3))
    results = run_replication(
        spark, {"replication_type": "full", "start_date": "2024-03-01", "table": "t"},
        str(tmp_path / "o"), fetcher=fetcher, notifier=CaptureNotifier(),
        today=dt.date(2024, 3, 3),
    )
    assert results["t_prospects"] == 7
    assert calls.value == 1 + 2 + 2  # one count probe, then each page once


# ------------------------------------------ HTTP transport, local server
API_RECORDS = [{"id": i, "attributes": {"name": f"n{i}"}} for i in (1, 2, 3)]


class _Api(BaseHTTPRequestHandler):
    """OAuth token on POST; GET serves a 2-page window whose links.next
    is a full URL. After 20 requests every GET is a 500, so a paging
    loop that never reaches page 2 fails fast instead of hanging."""

    def _reply(self, status: int, body: dict) -> None:
        raw = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def do_POST(self) -> None:
        self.rfile.read(int(self.headers["Content-Length"]))
        self.server.log.append(("POST", self.path, None))
        self._reply(200, {"access_token": "oauth-tok", "expires_in": 7200})

    def do_GET(self) -> None:
        srv = self.server
        srv.log.append(("GET", self.path, self.headers["Authorization"]))
        if srv.fail_once or len(srv.log) > 20:
            srv.fail_once = False
            return self._reply(500, {})
        last = "cursor=2" in self.path
        self._reply(200, {
            "data": API_RECORDS[2:] if last else API_RECORDS[:2],
            "links": {} if last else {"next": f"{srv.base}/prospects?cursor=2"},
            "meta": {"count": 3},
        })


@pytest.fixture()
def api_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Api)
    srv.log, srv.fail_once = [], False
    srv.base = f"http://127.0.0.1:{srv.server_port}/api/v2"
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()
    srv.server_close()


def test_cli_http_fetcher_follows_links_next(api_server, monkeypatch):
    monkeypatch.setattr(cli, "API_BASE", api_server.base)
    monkeypatch.setattr(cli, "TOKEN_URL", f"{api_server.base}/oauth/token")
    fetcher = cli.make_http_fetcher(dict.fromkeys(
        ("client_id", "client_secret", "refresh_token", "redirect_uri"), "x"))
    api_server.fail_once = True  # one transient 500: retried exactly once
    recs = rest.fetch_window(fetcher, "prospects", dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    assert [r["id"] for r in recs] == [1, 2, 3]
    # one token POST, reused; page 2 is links.next itself
    first = ("GET", "/api/v2/prospects?sort=-updatedAt", "Bearer oauth-tok")
    assert [(m, path.split("&")[0], auth) for m, path, auth in api_server.log] == [
        ("POST", "/api/v2/oauth/token", None), first, first,
        ("GET", "/api/v2/prospects?cursor=2", "Bearer oauth-tok"),
    ]


def test_restapi_source_over_http(spark, api_server, tmp_path):
    (tmp_path / "p.json").write_text(json.dumps({"id": "integer", "attributes_name": "string"}))
    register(spark)
    df = (spark.read.format("restapi").option("endpoint", "prospects")
          .option("schema_file", str(tmp_path / "p.json"))
          .option("start", "2024-03-01").option("end", "2024-03-02")
          .option("base_url", api_server.base).option("token", "static-tok").load())
    assert sorted(r["attributes_name"] for r in df.collect()) == ["n1", "n2", "n3"]
    assert [auth for _, _, auth in api_server.log] == ["Bearer static-tok"] * 2
