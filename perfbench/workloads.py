"""The benchmark's workloads.

A workload turns a seed into inputs (:meth:`prepare`), runs one *pass*
over its ops (:meth:`run_pass`), and checks outputs outside the timed
region. ``interactive`` runs registry queries to the noop sink in a
warm session; ``sync_replicate`` runs the replication CLI against the
seeded fake API in a fresh one.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import datagen
import fakeapi
from tracing import CallRecorder, Py4jCounter


@dataclass
class OpSample:
    """One op execution: wall time, outcome, and (traced) its job
    groups and layer counters."""

    op: str
    ms: float
    error: str | None = None
    build_group: str = ""
    exec_group: str = ""
    layers: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Per-op attribution for a traced pass: job groups around the
    build and sink phases, py4j round-trips during the build, call
    counts of catalog functions, Catalyst phase times."""

    def __init__(self, spark) -> None:
        from outreach_etl_tool_spark import catalog, cli

        self.sc = spark.sparkContext
        self.calls = CallRecorder()
        self.calls.wrap("catalog.load_table", catalog, "load_table",
                        also_in="outreach_etl_tool_spark")
        self.calls.wrap("catalog.register_views", catalog, "register_views")
        self.calls.wrap("sinks.write", cli, "write_partitioned")
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.seq = 0

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def tag(self, op: str) -> str:
        self.seq += 1
        return f"{op}#{self.seq}"

    def catalog_counts(self) -> dict[str, float]:
        return {
            f"{name}.{kind}": float(table[name])
            for name in ("catalog.load_table", "catalog.register_views")
            for kind, table in (("calls", self.calls.calls), ("ms", self.calls.ms))
        }

    @staticmethod
    def plan_phases(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own QueryExecution, planned
        after the op ran (outside its timing)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"plan.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def close(self) -> None:
        self.clear_group()
        self.calls.restore()
        self.py4j.restore()


# ---------------------------------------------------------------- interactive


SQL_OPS = (
    "sql_q3_shipping", "sql_q5_region_revenue", "pricing_summary",
    "join_fact_fact", "funnel", "evt_sessions",
)
LLM_OPS = ("semdedup_ivf", "quality_classifier_scores")


def _semdedup_ivf_invariants(pdf, sf_dir: str) -> str | None:
    """semdedup_ivf has no oracle (k-means is float-iterative). Its
    output must still be one row per embedding, each pointing at a
    kept representative with an id no larger than its own."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    if len(pdf) != n or pdf["vec_id"].nunique() != n:
        return f"rows {len(pdf)} (distinct {pdf['vec_id'].nunique()}), embeddings {n}"
    if (pdf["cluster_id"] > pdf["vec_id"]).any():
        return "cluster_id above vec_id"
    if not (pdf["is_keep"] == (pdf["vec_id"] == pdf["cluster_id"])).all():
        return "is_keep disagrees with vec_id == cluster_id"
    keepers = set(pdf.loc[pdf["is_keep"], "vec_id"])
    if not set(pdf["cluster_id"]) <= keepers:
        return "a cluster_id is not a kept row"
    return None


INVARIANTS = {"semdedup_ivf": _semdedup_ivf_invariants}


class Interactive:
    """One warm session running SQL headliners (fixed per-query costs:
    catalog registration, plan build, Catalyst, scheduling) and LLM
    headliners (eager barrier jobs and Python workers inside ``fn()``),
    each to the noop sink, over seeded catalog tables. The seed fixes
    the tables and every pass's op order. Of the 8 ops, the SQL ones
    set the median latency and the two slower LLM ones the 90th
    percentile.

    Each op's rows are collected once, outside its timing (re-running
    only the final plan: the op's eager barrier work is already
    materialized), and compared with the DuckDB oracle on the same
    tables in :meth:`after_pass`."""

    ops = SQL_OPS + LLM_OPS
    scale = 0.001  # lineitem 6,000 rows; 500 documents, 500 embeddings
    interactive = True

    def __init__(self, seed: int, work: Path) -> None:
        self.seed = seed
        self.work = work
        self.sf_dir = str(work / "tables")
        self.rng = random.Random(seed)
        self.collected: dict[str, object] = {}
        self.verdicts: dict[str, str | None] = {}

    def prepare(self) -> None:
        datagen.write_tables(datagen.generate(self.seed, self.scale), Path(self.sf_dir))

    def bind(self, spark) -> None:
        """Per-session state (none for registry queries)."""

    def pass_order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def run_pass(self, spark, tracer: Tracer | None = None) -> list[OpSample]:
        """One pass over the ops in a seeded order: each op timed from
        ``fn()`` to the end of its noop write; then, untimed, the rows of
        ops not yet checked are collected."""
        from outreach_etl_tool_spark.queries import REGISTRY

        samples = []
        for op in self.pass_order():
            fn = REGISTRY[op].fn
            s = OpSample(op, 0.0)
            if tracer is not None:
                tag = tracer.tag(op)
                s.build_group, s.exec_group = f"{tag}:build", f"{tag}:exec"
                tracer.calls.reset()
                n0 = tracer.py4j.count
                tracer.group(s.build_group)
            t0 = time.perf_counter()
            try:
                df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                if tracer is not None:
                    n1 = tracer.py4j.count
                    tracer.group(s.exec_group)
                df.write.format("noop").mode("overwrite").save()
                s.ms = (time.perf_counter() - t0) * 1000.0
                if tracer is not None:
                    tracer.clear_group()
                    s.layers = {
                        "fn_ms": (t1 - t0) * 1000.0,
                        "queries.py4j_calls": float(n1 - n0),
                        **tracer.catalog_counts(),
                        **tracer.plan_phases(df),
                    }
                if op not in self.verdicts:
                    self.collected[op] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — an op failure is a result
                s.ms = s.ms or (time.perf_counter() - t0) * 1000.0
                s.error = f"{type(exc).__name__}: {exc}"
                if tracer is not None:
                    tracer.clear_group()
            samples.append(s)
        return samples

    def after_pass(self) -> tuple[dict[str, str | None], dict[str, float]]:
        """Check the rows collected in the pass against the DuckDB
        oracle's rows with ``tools/selfcheck.compare``, dtypes included.
        Ops without an oracle are held to invariants of their output.
        An op's verdict then holds for all its runs."""
        if self.collected:
            import duckdb
            import selfcheck

            from outreach_etl_tool_spark.queries import REGISTRY

            con = selfcheck.duck_connection(self.sf_dir)
            con.execute(f"SET temp_directory='{self.work / 'duckdb'}'")
            con.execute("SET memory_limit='1GB'")
            for op, got in self.collected.items():
                spec = REGISTRY[op]
                try:
                    if spec.oracle is None:
                        self.verdicts[op] = INVARIANTS[op](got, self.sf_dir)
                        continue
                    want = con.execute(spec.oracle).fetchdf()
                    self.verdicts[op] = "; ".join(selfcheck.compare(op, got, want)) or None
                except (duckdb.Error, KeyError, ValueError, TypeError) as exc:
                    self.verdicts[op] = f"{type(exc).__name__}: {exc}"
            con.close()
            self.collected.clear()
        return dict(self.verdicts), {}


# ---------------------------------------------------------------- sync


class SyncReplicate:
    """``cli.run_replication``: a ``full`` sync of every endpoint from
    the seeded fake API into day-partitioned parquet, a fresh output
    directory per pass. One op is one endpoint's sync."""

    interactive = False  # a replication is a batch job in a fresh process
    start = dt.date(2024, 3, 1)
    days = 7
    # records updated per day, assumed (no source gives real volumes):
    # mailings exceed the CLI's 10,000-row threshold over the window and
    # take the per-day mapInPandas path, the others the driver path.
    # Sequences, the median op, carry enough rows that their latency is
    # not mostly the fixed cost of a few Spark jobs, whose run-to-run
    # spread is about twice that of a longer op
    daily_new = {
        "prospects": 300,
        "sequences": 600,
        "mailings": 1_550,
        "accounts": 150,
        "opportunities": 90,
    }
    page_size = 100  # sync_endpoint's default
    large_threshold = 10_000  # sync_endpoint's default

    def __init__(self, seed: int, work: Path) -> None:
        import outreach_etl_tool_spark.cli as cli
        from outreach_etl_tool_spark.ingest import load_ref_schema

        self.seed = seed
        self.work = work
        self.out_root = work / "out"
        self.ops = cli.ENDPOINTS
        schema_dir = Path(cli.__file__).parent / "schemas"
        self.schemas = {e: load_ref_schema(schema_dir / f"{e}.json") for e in self.ops}
        self.api: fakeapi.FakeOutreachApi | None = None
        self.passes = 0

    def prepare(self) -> None:
        from pyspark import cloudpickle

        # workers unpickle the fetcher without importing this directory
        cloudpickle.register_pickle_by_value(fakeapi)
        plan = fakeapi.FakeOutreachApi(self.seed, self.schemas, self.daily_new,
                                       self.start, self.days)
        self.expected = {e: plan.expected(e) for e in self.ops}
        self.needed = {
            e: plan.needed_calls(e, self.page_size, self.large_threshold) for e in self.ops
        }

    def bind(self, spark) -> None:
        sc = spark.sparkContext
        self.calls_acc = sc.accumulator(0)
        self.records_acc = sc.accumulator(0)
        self.api = fakeapi.FakeOutreachApi(
            self.seed, self.schemas, self.daily_new, self.start, self.days,
            calls=self.calls_acc, records=self.records_acc,
        )

    def run_pass(self, spark, tracer: Tracer | None = None) -> list[OpSample]:
        """One ``run_replication`` call. Endpoint boundaries come from
        a timestamp taken as ``cli.sync_endpoint`` is entered."""
        import outreach_etl_tool_spark.cli as cli
        from outreach_etl_tool_spark.sinks import LogNotifier

        self.passes += 1
        out_dir = self.out_root / f"pass{self.passes}"
        marks: list[tuple[str, float]] = []
        original = cli.sync_endpoint
        tags: list[str] = []

        def sync_endpoint(spark_, fetcher, endpoint, *args, **kwargs):
            if tracer is not None:
                tags.append(tracer.tag(endpoint))
                tracer.group(f"{tags[-1]}:build")
            marks.append((endpoint, time.perf_counter()))
            return original(spark_, fetcher, endpoint, *args, **kwargs)

        write_original = cli.write_partitioned

        def write_partitioned(df, path, cols, *args, **kwargs):
            if tracer is not None:
                tracer.group(f"{tags[-1]}:exec")
            return write_original(df, path, cols, *args, **kwargs)

        cli.sync_endpoint = sync_endpoint
        cli.write_partitioned = write_partitioned
        calls0, recs0 = self.calls_acc.value, self.records_acc.value
        err = None
        try:
            cli.run_replication(
                spark,
                {"replication_type": "full", "start_date": self.start.isoformat(),
                 "table": "bench"},
                str(out_dir), fetcher=self.api, notifier=LogNotifier(),
                today=self.start + dt.timedelta(days=self.days),
            )
        except Exception as exc:  # noqa: BLE001 — a failed sync is a result
            err = f"{type(exc).__name__}: {exc}"
        finally:
            end = time.perf_counter()
            cli.sync_endpoint = original
            cli.write_partitioned = write_original
            if tracer is not None:
                tracer.clear_group()
        samples = []
        for i, (endpoint, t) in enumerate(marks):
            t_next = marks[i + 1][1] if i + 1 < len(marks) else end
            last = i + 1 == len(marks)
            s = OpSample(endpoint, (t_next - t) * 1000.0, err if last else None)
            if tracer is not None:
                s.build_group, s.exec_group = f"{tags[i]}:build", f"{tags[i]}:exec"
            samples.append(s)
        if len(marks) < len(self.ops):  # the pass died before some endpoints
            samples += [OpSample(e, 0.0, err or "not reached") for e in self.ops[len(marks):]]
        self.last_pass = {
            "dir": out_dir,
            "calls": self.calls_acc.value - calls0,
            "records": self.records_acc.value - recs0,
        }
        return samples

    def after_pass(self) -> tuple[dict[str, str | None], dict[str, float]]:
        return self._check_pass(), self._pass_layers()

    def _check_pass(self) -> dict[str, str | None]:
        """Compare the last pass's tables with the ids and latest
        ``updatedAt`` the seed implies; then record sink sizes and drop
        the output. Outside the timed region."""
        import pyarrow.parquet as pq

        out = {}
        rows = files = nbytes = 0
        for e in self.ops:
            path = self.last_pass["dir"] / f"bench_{e}"
            parts = sorted(path.rglob("*.parquet")) if path.exists() else []
            files += len(parts)
            nbytes += sum(p.stat().st_size for p in parts)
            if not parts:
                out[e] = "no output"
                continue
            t = pq.read_table(path, columns=["id", "updatedAt"])
            rows += t.num_rows
            ids = t.column("id").to_pylist()
            ts = t.column("updatedAt").cast("timestamp[us]").cast("int64").to_pylist()
            want = self.expected[e]
            if len(ids) != len(want) or set(ids) != set(want):
                out[e] = f"{len(ids)} rows, {len(set(ids))} ids; expected {len(want)}"
                continue
            epoch = dt.datetime(1970, 1, 1)
            bad = sum(
                1 for i, us in zip(ids, ts)
                if us != (want[i] - epoch) // dt.timedelta(microseconds=1)
            )
            out[e] = f"{bad} rows not at their latest updatedAt" if bad else None
        self.last_pass.update(rows=rows, files=files, bytes=nbytes)
        shutil.rmtree(self.last_pass["dir"], ignore_errors=True)
        return out

    def _pass_layers(self) -> dict[str, float]:
        lp = self.last_pass
        needed = sum(self.needed.values())
        return {
            "ingest.fetch_calls": float(lp["calls"]),
            "ingest.fetch_useful_ratio": needed / lp["calls"] if lp["calls"] else 0.0,
            "ingest.records": float(lp["records"]),
            "sinks.files_written": float(lp["files"]),
            "sinks.bytes_written": float(lp["bytes"]),
            "sinks.bytes_per_row": lp["bytes"] / lp["rows"] if lp["rows"] else 0.0,
        }


WORKLOADS = {
    "interactive": Interactive,
    "sync_replicate": SyncReplicate,
}
