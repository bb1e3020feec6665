"""Round-3 coverage extensions: multi-dim join analytics, corpus
n-gram statistics, and time-series gap filling.

Each query follows the registry contract — identical column aliases in
the Spark plan and the DuckDB oracle, integer-exact arithmetic wherever
a float would make the value hash engine-dependent (integer counts
divide to bit-identical doubles in both engines).
"""

from __future__ import annotations

import pandas as pd  # module-top: @pandas_udf type-hint inference
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.expr import bind_once
from ..functions.scalars import exact_sum, sum_sql
from ..functions.text import token_bigrams, tokens
from ..operators.util import ensure_parallelism
from . import QuerySpec


# ---------------------------------------------------------------------------
# SQL Q5 — local-supplier revenue by nation (TPC-H Q5 shape): the
# six-way join tree. Scale shape: region/nation/supplier/customer are
# broadcast dims; orders⋈lineitem is the one fact-fact shuffle; the
# c_nationkey = s_nationkey "local supplier" predicate closes the loop
# on already-joined columns without another shuffle. Catalyst orders
# the joins from stats; the date filter pushes to the orders scan.
# ---------------------------------------------------------------------------
def sql_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .filter(customer.c_nationkey == supplier.s_nationkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(
            (F.col("r_name") == "EUROPE")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("n_name")
        .agg(exact_sum(revenue, scale=6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


SQL_Q5_REGION_REVENUE_SQL = f"""
SELECT n_name, {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# ---------------------------------------------------------------------------
# REPETITION RATIO — Gopher/RefinedWeb-style quality signal: the
# fraction of a document's bigrams that are repeats. Pure JVM HOF
# projection per row (no shuffle at all); the ratio divides two exact
# integers so the double is engine-identical.
# ---------------------------------------------------------------------------
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    # Multi-column output from one expensive expression: bind the token
    # array once (functions/expr.py), build ALL columns inside one
    # struct, and expand through inline(array(...)) — the Generate node
    # is an evaluation barrier, so the three projected columns share
    # one tokenize instead of re-inlining it per column (11 tokenizer
    # evals in the pre-fix plan; measured −32% at sf0.1).
    def _build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
        bigrams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2))
        )
        n_bi = F.when(n >= 2, n - 1).otherwise(F.lit(0))
        n_dist = (
            F.when(n >= 2, F.size(F.array_distinct(bigrams))).otherwise(F.lit(0))
        )
        ratio = F.when(
            n >= 2,
            F.lit(1.0) - n_dist.cast("double") / n_bi.cast("double"),
        ).otherwise(F.lit(0.0))
        return F.struct(
            n_bi.cast("long").alias("n_bigrams"),
            n_dist.cast("long").alias("n_distinct_bigrams"),
            ratio.alias("dup_bigram_ratio"),
        )

    return docs.select(
        "doc_id", F.inline(F.array(bind_once(tokens("text"), _build)))
    )


REPETITION_RATIO_SQL = """
WITH arrs AS (
    SELECT doc_id, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN LEN(arr) >= 2 THEN LEN(arr) - 1 ELSE 0 END AS BIGINT)
           AS n_bigrams,
       CAST(CASE WHEN LEN(arr) >= 2 THEN LEN(LIST_DISTINCT(
               [array_to_string(list_slice(arr, i, i + 1), ' ')
                for i in generate_series(1, LEN(arr) - 1)]))
           ELSE 0 END AS BIGINT) AS n_distinct_bigrams,
       CASE WHEN LEN(arr) >= 2 THEN
           1.0 - CAST(LEN(LIST_DISTINCT(
               [array_to_string(list_slice(arr, i, i + 1), ' ')
                for i in generate_series(1, LEN(arr) - 1)])) AS DOUBLE)
               / CAST(LEN(arr) - 1 AS DOUBLE)
       ELSE 0.0 END AS dup_bigram_ratio
FROM arrs
"""


# ---------------------------------------------------------------------------
# BIGRAM LM TOP-K — corpus bigram counts with conditional probability
# P(next|prev): the n-gram language-model build shape. Explode to
# (prev, next) pairs, hash-aggregate (map-side partial absorbs the
# Zipf head), window-sum per prev for the denominator, TakeOrdered
# top-k with a full deterministic tiebreak.
# ---------------------------------------------------------------------------
_BIGRAM_K = 50


def bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    # Token array bound once; short docs yield an empty pair array that
    # explode() drops for free, replacing a filter(n >= 2) that would
    # re-inline the tokenizer as a predicate.
    bi = (
        docs.select(F.explode(bind_once(tokens("text"), token_bigrams)).alias("p"))
        .select("p.prev", "p.nxt")
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("n_bi"))
    )
    w = Window.partitionBy("prev")
    return (
        bi.withColumn(
            "p_next",
            F.col("n_bi").cast("double") / F.sum("n_bi").over(w).cast("double"),
        )
        .orderBy(F.desc("n_bi"), F.asc("prev"), F.asc("nxt"))
        .limit(_BIGRAM_K)
    )


BIGRAM_LM_TOPK_SQL = f"""
WITH arrs AS (
    SELECT regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr FROM documents
), bi AS (
    SELECT arr[i] AS prev, arr[i + 1] AS nxt
    FROM arrs, UNNEST(generate_series(1, LEN(arr) - 1)) AS t(i)
    WHERE LEN(arr) >= 2
), counts AS (
    SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS n_bi FROM bi GROUP BY 1, 2
)
SELECT prev, nxt, n_bi,
       CAST(n_bi AS DOUBLE)
           / CAST(SUM(n_bi) OVER (PARTITION BY prev) AS DOUBLE) AS p_next
FROM counts
ORDER BY n_bi DESC, prev ASC, nxt ASC
LIMIT {_BIGRAM_K}
"""


# ---------------------------------------------------------------------------
# EVENT GAP FILL — per-user hourly spine with forward fill (the
# time-series resample/interpolate shape). No cross join: each user's
# spine spans only their own [min, max] hour (sequence + explode), so
# spine size is Σ user-spans, not |users| × global-span. One exchange
# on user_id is shared by the per-user bounds agg, the join, and the
# forward-fill window.
# ---------------------------------------------------------------------------
def evt_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    # last observation per (user, hour): deterministic by (ts, event_id)
    wlast = Window.partitionBy("user_id", "h").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        ev.select("user_id", h.alias("h"), "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(wlast))
        .filter(F.col("__rn") == 1)
        .select("user_id", "h", F.col("value").alias("obs_value"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.last("obs_value", ignorenulls=True)
            .over(wfill)
            .alias("filled_value"),
            F.col("obs_value").isNotNull().alias("is_observed"),
        )
    )


EVT_GAP_FILL_SQL = """
WITH hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h, value AS obs_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, date_trunc('hour', ts)
        ORDER BY ts DESC, event_id DESC) = 1
), bounds AS (
    SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id
), spine AS (
    SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
    FROM bounds
)
SELECT s.user_id, s.h,
       LAST_VALUE(hv.obs_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       hv.obs_value IS NOT NULL AS is_observed
FROM spine s LEFT JOIN hourly hv ON s.user_id = hv.user_id AND s.h = hv.h
"""


# ---------------------------------------------------------------------------
# HEAVY HITTERS — count-min-sketch candidates + exact verify. The CMS
# only ever OVER-counts, so probing it yields a candidate superset
# (no false negatives); the exact count over the semi-joined subset
# removes false positives — output equals the plain GROUP BY / HAVING
# bit-for-bit, which is exactly what the oracle runs. At 100 TB the
# sketch is ~256 KB of additive state built in one narrow pass
# (functions/cms.py, same partial-merge shape as the bloom build) and
# the exact pass touches only candidate keys.
# ---------------------------------------------------------------------------
_HH_THRESHOLD = 80


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cms import build_cms_distributed, cms_width_for

    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    # Size the sketch from the data, not a constant: CMS over-count
    # scales with TOTAL event count, so a fixed w=8192 that is exact at
    # sf0.1 turns every key into a candidate at 10^9 users. The total
    # comes from parquet footer metadata — a driver-side KB read, not
    # a count() job over the table (cms_width_for docs the error
    # budget).
    from ..catalog import table_rows

    total = table_rows(sf_dir, "events")
    cms = build_cms_distributed(
        ev, "user_id", d=4, w=cms_width_for(total, _HH_THRESHOLD)
    )
    bc = spark.sparkContext.broadcast(cms)

    @F.pandas_udf("boolean")
    def maybe_heavy(keys: pd.Series) -> pd.Series:
        est = bc.value.estimate(keys.to_numpy(dtype="int64"))
        return pd.Series(est >= _HH_THRESHOLD)

    cand = ev.select("user_id").distinct().filter(maybe_heavy(F.col("user_id")))
    # No broadcast hint on the candidate side: its size is data-
    # dependent (could approach all keys under an adversarial
    # threshold), so let AQE pick broadcast vs shuffled semi-join from
    # the observed size at runtime.
    return (
        ev.join(cand, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= _HH_THRESHOLD)
    )


HEAVY_HITTERS_SQL = f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
HAVING COUNT(*) >= {_HH_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MANIFEST SNAPSHOT DIFF — time travel + manifest min/max file skipping
# (SURVEY.md §2.1 S6b scale path, §2.9 T6c), exercised through an
# oracled query instead of pytest fixtures only.
#
# Builds (idempotently, in a tmp dir keyed by the sf) a two-version
# manifest table: v0 = orders below a data-derived key cutoff, v1 =
# v0 + the appended tail. The result is the appended slice aggregated
# per order status, computed the lakehouse way: read v1 through
# `read_pruned` (driver-side file skipping from manifest [min,max]
# stats — base files' o_orderkey max < cutoff, so only appended files
# are opened) and anti-join the time-traveled `read(version=0)`
# snapshot. The DuckDB oracle derives the identical appended set
# straight from the orders table, so the whole
# write→commit→skip→time-travel path is value-checked, not just
# "ran". Cutoff = floor(max(o_orderkey)/2) — deterministic and
# expressible in both engines at any sf.
# ---------------------------------------------------------------------------
def manifest_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile
    from pathlib import Path

    from ..sinks.manifest import ManifestTable

    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(F.max("o_orderkey")).first()[0] // 2

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = Path(tempfile.gettempdir()) / f"manifest_diff_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    t = ManifestTable(str(root))
    # range-partitioned writes give each data file a tight disjoint
    # o_orderkey span, so manifest stats can actually skip files
    t.overwrite(
        orders.filter(F.col("o_orderkey") < cutoff)
        .repartitionByRange(4, "o_orderkey")
    )  # v0
    t.append(
        orders.filter(F.col("o_orderkey") >= cutoff)
        .repartitionByRange(2, "o_orderkey")
    )  # v1

    v0 = t.read(spark, version=0)
    appended = (
        t.read_pruned(spark, "o_orderkey", lo=cutoff)  # skips v0's files
        .filter(F.col("o_orderkey") >= cutoff)  # row-level, post-skip
        .join(v0.select("o_orderkey"), "o_orderkey", "left_anti")
    )
    return appended.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice").alias("total_price"),
    )


MANIFEST_SNAPSHOT_DIFF_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sum_sql('o_totalprice')} AS total_price
FROM orders
WHERE o_orderkey >= (SELECT CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT)
                     FROM orders)
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# S6c — the partitioned sink layout, exercised end-to-end: write events
# partitioned by day (sinks/writers.write_partitioned — one directory
# per day, pre-repartitioned so each day is one file, the layout
# SCALE.md prescribes for the 100 TB fact table), read it back with a
# day predicate, and return the surviving rows. The companion plan pin
# (tests/test_plans.py::test_sink_partitioned_read_prunes) asserts the
# predicate lands in PartitionFilters and exactly one file is read —
# the scan never touches the other 29 days. Fixture cached per sf_dir
# (location + version single-sourced in fixtures.sink_fixture_dest).


def _partitioned_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    from pathlib import Path

    from ..sinks.writers import write_partitioned
    from .fixtures import atomic_fixture, sink_fixture_dest

    dest = sink_fixture_dest("events_by_day", sf_dir)

    def build(root: Path) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_day", F.to_date("ts")
        )
        write_partitioned(ev, str(root), ["event_day"])

    return str(atomic_fixture(dest, build))


# S6d — the clustered sink layout (sinks/layout.write_clustered):
# orders range-partitioned + sorted on o_orderdate, so each output file
# covers a disjoint date range and the reader's pushed-down range
# predicate skips the other files' row groups via parquet min/max
# stats (disjointness is pinned by tests/test_sinks.py reading the
# footers directly). This query drives the full path — clustered
# write, pushed range read, value-hashed rows — under the driver gate.
def _clustered_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    from pathlib import Path

    from ..sinks.layout import write_clustered
    from .fixtures import atomic_fixture, sink_fixture_dest

    dest = sink_fixture_dest("orders_by_date", sf_dir)

    def build(root: Path) -> None:
        write_clustered(
            load_table(spark, sf_dir, "orders"), str(root), ["o_orderdate"]
        )

    return str(atomic_fixture(dest, build))


def sink_clustered_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _clustered_orders_fixture(spark, sf_dir)
    back = spark.read.parquet(path)
    # data-relative window — the 14th calendar month after the minimum
    # order date — so a regenerated date span can never make the
    # predicate miss the data and pass trivially on 0 rows (orders
    # currently span 1995-01..2001-08; a fixed month did exactly that)
    lo = back.agg(F.min("o_orderdate")).first()[0]
    y, m0 = lo.year + (lo.month - 1 + 14) // 12, (lo.month - 1 + 14) % 12 + 1
    start = f"{y:04d}-{m0:02d}-01"
    y2, m2 = y + m0 // 12, m0 % 12 + 1
    end = f"{y2:04d}-{m2:02d}-01"
    back = back.filter(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end)
    )
    return back.select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )


SINK_CLUSTERED_MINMAX_SQL = """
WITH b AS (
  SELECT DATE_TRUNC('month', MIN(o_orderdate)) + INTERVAL 14 MONTH AS t
  FROM orders
)
SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
FROM orders, b
WHERE o_orderdate >= t AND o_orderdate < t + INTERVAL 1 MONTH
"""


# S6e — the z-ordered sink layout (sinks/layout.write_zordered):
# events Morton-ordered on (user_id, value), so BOTH columns keep
# narrow per-file min/max envelopes and a predicate on either (or
# both, as here) skips most row groups — the multi-column layout the
# 100 TB fact table wants when queries slice on more than one key.
# File-envelope locality is pinned by tests/test_sinks.py reading the
# parquet footers directly; this query drives write → 2-D-pushed read
# → value-hashed rows under the driver gate. Thresholds are
# data-relative (1/8 of each observed range) so a regenerated domain
# can never yield trivially-empty evidence.
def _zordered_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    from pathlib import Path

    from ..sinks.layout import write_zordered
    from .fixtures import atomic_fixture, sink_fixture_dest

    dest = sink_fixture_dest("events_zorder", sf_dir)

    def build(root: Path) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        write_zordered(ev, str(root), ["user_id", "value"], n_files=8)

    return str(atomic_fixture(dest, build))


def sink_zorder_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _zordered_events_fixture(spark, sf_dir)
    back = spark.read.parquet(path)
    s = back.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min("value").alias("vlo"), F.max("value").alias("vhi"),
    ).first()
    # both thresholds are single IEEE/integer expressions the oracle
    # repeats verbatim, so the predicate boundary is bit-identical
    u_hi = s["ulo"] + max(1, (s["uhi"] - s["ulo"]) // 8)
    v_hi = s["vlo"] + (s["vhi"] - s["vlo"]) / 8.0
    return back.filter(
        (F.col("user_id") < F.lit(u_hi)) & (F.col("value") < F.lit(v_hi))
    ).select("event_id", "user_id", "event_type", "value")


SINK_ZORDER_MINMAX_SQL = """
WITH b AS (
  SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
         MIN(value) AS vlo, MAX(value) AS vhi
  FROM events
)
SELECT event_id, user_id, event_type, value
FROM events, b
WHERE user_id < ulo + GREATEST(1, (uhi - ulo) // 8)
  AND value < vlo + (vhi - vlo) / 8.0
"""


def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    path = _partitioned_events_fixture(spark, sf_dir)
    back = spark.read.parquet(path)
    # data-relative day — 14 days after the earliest event — so a
    # regenerated ts span can never make the predicate miss the data
    # and pass trivially on 0 rows (the events table has always
    # spanned ≥30 days; same hardening as sink_clustered_minmax).
    # min() over the partition column is metadata-cheap: it reads the
    # directory names, not the row groups.
    lo = back.agg(F.min("event_day")).first()[0]
    day = lo + datetime.timedelta(days=14)
    back = back.filter(F.col("event_day") == F.lit(day))
    return back.select(
        "event_id", "event_day", "ts", "user_id", "event_type", "value"
    )


SINK_PARTITIONED_PRUNED_SQL = """
SELECT event_id, CAST(ts AS DATE) AS event_day, ts, user_id, event_type, value
FROM events
WHERE CAST(ts AS DATE) =
      (SELECT CAST(MIN(ts) AS DATE) + INTERVAL 14 DAY FROM events)
"""


# T6d — MERGE INTO / CDC apply (operators/merge.py) driven end-to-end.
# The change feed is derived deterministically from the base itself so
# both engines construct byte-identical inputs: orders with key%10==3
# get a price correction (+100), key%10==7 get a correction FOLLOWED BY
# a delete (two changes, one key — exercises last-writer-wins
# compaction), and key%10==0 spawn an insert under a shifted key at
# half price. The oracle reconstructs the merged state set-wise
# (filter + CASE + UNION ALL) — agreement proves the full-outer
# resolve implements MERGE semantics exactly, including the
# delete-beats-earlier-update ordering.
_MERGE_KSHIFT = 10_000_000


def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_cdc

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    k = F.col("o_orderkey")

    def ch(df: DataFrame, op: str, seq: int) -> DataFrame:
        return df.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
            F.lit(op).alias("op"), F.lit(seq).alias("seq"),
        )

    corrections = ch(
        base.filter((k % 10 == 3) | (k % 10 == 7)).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100
        ),
        "U", 1,
    )
    deletes = ch(base.filter(k % 10 == 7), "D", 2)
    inserts = ch(
        base.filter(k % 10 == 0)
        .withColumn("o_orderkey", k + _MERGE_KSHIFT)
        .withColumn("o_totalprice", F.col("o_totalprice") / 2),
        "U", 1,
    )
    changes = corrections.unionByName(deletes).unionByName(inserts)
    return merge_cdc(base, changes, ["o_orderkey"], op_col="op", seq_col="seq")


MERGE_CDC_APPLY_SQL = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate
FROM orders
WHERE o_orderkey % 10 <> 7
UNION ALL
SELECT o_orderkey + {_MERGE_KSHIFT}, o_custkey, o_totalprice / 2, o_orderdate
FROM orders
WHERE o_orderkey % 10 = 0
"""


# S6f — dynamic partition pruning (DPP): the fact scan's partition
# filter comes from a JOIN, not a literal. The dim side (the distinct
# days inside a 3-day data-relative window) is only knowable by
# running a subquery, so static pruning is impossible — Spark instead
# injects a dynamicpruning#... expression into the partitioned scan's
# PartitionFilters and evaluates the dim first. At 100 TB this is what
# keeps "join the fact table to a filtered calendar/dim" from scanning
# every partition. The plan pin (tests/test_plans.py) asserts the
# dynamic-pruning expression is present; the oracle computes the same
# join over the raw events table.
def sink_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    path = _partitioned_events_fixture(spark, sf_dir)
    fact = spark.read.parquet(path)
    raw = load_table(spark, sf_dir, "events")
    lo, hi = raw.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    # span-relative 3-day window at the one-third point (the driver
    # regenerates testdata between rounds; a fixed +10d offset would
    # silently go empty on a shorter span) — integer-days arithmetic
    # mirrored in the oracle
    off = max(1, (hi - lo).days // 3)
    d0 = lo + datetime.timedelta(days=off)
    d1 = min(hi, d0 + datetime.timedelta(days=2))
    dim = (
        raw.select(F.to_date("ts").alias("day"))
        .filter((F.col("day") >= F.lit(d0)) & (F.col("day") <= F.lit(d1)))
        .distinct()
    )
    return (
        fact.join(dim, fact.event_day == dim.day)
        .groupBy("event_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", scale=4).alias("value_sum"),
        )
        .orderBy("event_day")
    )


SINK_DPP_JOIN_SQL = f"""
WITH bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
    FROM events
), win AS (
    SELECT lo + CAST(GREATEST(1, (hi - lo) // 3) AS INTEGER) AS d0,
           LEAST(hi, lo + CAST(GREATEST(1, (hi - lo) // 3) + 2 AS INTEGER))
               AS d1
    FROM bounds
), dim AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day
    FROM events CROSS JOIN win
    WHERE CAST(ts AS DATE) >= d0 AND CAST(ts AS DATE) <= d1
)
SELECT CAST(ts AS DATE) AS event_day,
       COUNT(*) AS n_events,
       {sum_sql('value', scale=4)} AS value_sum
FROM events JOIN dim ON CAST(ts AS DATE) = day
GROUP BY event_day
ORDER BY event_day
"""


# S6g — the hidden `_metadata` column: per-file audit counts without
# any filesystem listing logic — the scan itself reports which file
# each row came from (file-level lineage, corrupt-file triage, audit
# manifests). Rows-only: the oracle's static SQL cannot name the
# fixture's generated part files (they exist only after the fixture
# builds); determinism holds because the fixture is cached, so both
# runs of the determinism harness read identical file names, and
# tests/test_operators.py pins the lineage against a direct listing.
def scan_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_events_fixture(spark, sf_dir)
    fact = spark.read.parquet(path)
    # partition-dir + basename: bare _metadata.file_name is ambiguous —
    # two partition directories can hold identically-named part files
    # (same task id), and grouping on the basename would merge rows
    # from different days (caught by the listing-pin test)
    rel = F.regexp_extract(
        F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
    )
    return (
        fact.select(rel.alias("file_rel"), "event_day")
        .groupBy("file_rel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_day").alias("day_lo"),
            F.max("event_day").alias("day_hi"),
        )
        .orderBy("file_rel")
    )


# S6e — bucketed co-located join (sinks/writers.write_bucketed driven
# end-to-end under the driver gate; the pytest-only half lives in
# tests/test_sinks.py). Orders and lineitem slices are saved as
# external tables bucketed AND sorted on the join key into the same 8
# buckets, so the subsequent fact⋈fact join needs NO exchange and NO
# sort on either side — the bucket layout IS the shuffle, paid once at
# write time and amortized over every later join. At 100 TB this is
# the difference between re-shuffling both facts per query and reading
# co-located files; the plan pin (tests/test_plans.py) asserts the
# join segment has zero exchanges and the scans carry the bucket
# metadata. The oracle is the identical join over the RAW tables —
# bucketing must never change results, only the plan.
#
# Fixture discipline differs from the parquet fixtures above by
# necessity: bucketing metadata lives in the SESSION CATALOG, not the
# files (atomic-rename caching can't carry it across sessions), so
# each session registers its own external copy keyed by applicationId
# — concurrent sessions never share paths, and within a session the
# catalog check makes the build run once.
def _bucketed_join_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import tempfile
    from pathlib import Path

    from ..sinks.writers import write_bucketed
    from .fixtures import sink_fixture_dest

    key = sink_fixture_dest("bucketed_join", sf_dir).name
    app = spark.sparkContext.applicationId.replace("-", "_")
    slices = {
        "orders": (
            ["o_orderkey"],
            ["o_orderkey", "o_orderpriority"],
        ),
        "lineitem": (
            ["l_orderkey"],
            ["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
        ),
    }
    names: dict[str, str] = {}
    for tbl, (bucket_cols, cols) in slices.items():
        tname = f"{tbl}_{key}"
        if not spark.catalog.tableExists(tname):
            path = (
                Path(tempfile.gettempdir())
                / "outreach_etl_spark_sink"
                / f"{tname}_{app}"
            )
            write_bucketed(
                load_table(spark, sf_dir, tbl).select(*cols),
                tname,
                bucket_cols,
                n_buckets=8,
                sort_cols=bucket_cols,
                path=str(path),
            )
        names[tbl] = tname
    return names["orders"], names["lineitem"]


def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = _bucketed_join_tables(spark, sf_dir)
    orders = spark.table(t_orders)
    lineitem = spark.table(t_lineitem)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(revenue, scale=6).alias("revenue"),
        )
        .orderBy("o_orderpriority", "l_returnflag")
    )


SINK_BUCKETED_JOIN_SQL = f"""
SELECT o_orderpriority, l_returnflag,
       COUNT(*) AS n_lines,
       {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority, l_returnflag
ORDER BY o_orderpriority, l_returnflag
"""


# T6e — incremental materialized-view maintenance. The monthly
# (month × priority) revenue rollup is stored as MERGEABLE PARTIAL
# STATE — count + exact scaled-integer sum, NOT the finished averages/
# doubles — for all data older than a data-relative cutoff (6 months
# before the newest order). Refresh = aggregate ONLY the delta slice,
# union the two partial-state frames, merge with one tiny groupBy, and
# finalize. The 100 TB point: the historical fact data is never
# re-scanned — the refresh reads |MV| + |delta| rows, and storing
# sum-of-scaled-ints (associative, order-free) instead of finished
# doubles is what makes the merge both legal and bit-exact. The oracle
# is the full recompute over all orders: agreement proves the
# partial-state merge is lossless.
def _mv_monthly_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from pathlib import Path

    from .fixtures import atomic_fixture, sink_fixture_dest

    orders = load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderdate")).first()[0]
    y, m0 = hi.year + (hi.month - 1 - 6) // 12, (hi.month - 1 - 6) % 12 + 1
    cutoff = f"{y:04d}-{m0:02d}-01"
    dest = sink_fixture_dest(f"mv_orders_monthly_{cutoff}", sf_dir)

    def build(root: Path) -> None:
        _mv_partials(orders.filter(F.col("o_orderdate") < cutoff)).write.parquet(
            str(root)
        )

    return str(atomic_fixture(dest, build)), cutoff


def _mv_partials(orders: DataFrame) -> DataFrame:
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev100"),
    )


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, cutoff = _mv_monthly_fixture(spark, sf_dir)
    stored = spark.read.parquet(path)
    orders = load_table(spark, sf_dir, "orders")
    delta = _mv_partials(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        stored.unionByName(delta)
        .groupBy("order_month", "o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("rev100").alias("r100"))
        .select(
            "order_month",
            "o_orderpriority",
            "n_orders",
            (F.col("r100").cast("double") / 100).alias("revenue"),
        )
        .orderBy("order_month", "o_orderpriority")
    )


MV_INCREMENTAL_REFRESH_SQL = f"""
SELECT DATE_TRUNC('month', o_orderdate) AS order_month,
       o_orderpriority,
       COUNT(*) AS n_orders,
       {sum_sql('o_totalprice', scale=2)} AS revenue
FROM orders
GROUP BY order_month, o_orderpriority
ORDER BY order_month, o_orderpriority
"""


# ---------------------------------------------------------------------------
# MARKET-BASKET PAIR LIFT — association analytics over co-purchase
# baskets: for every part pair co-occurring in >= minsup orders, the
# support, and the lift N*c(a,b) / (c(a)*c(b)) that says whether the
# pair co-occurs MORE than independence predicts (lift > 1). The
# top-k by lift is the "frequently bought together" list. Scale shape:
# the pair expansion is confined to order groups (bounded by order
# width, never by part popularity — the same bound as the co-purchase
# graph), the minsup filter runs BEFORE the item-count joins, the
# 1-row basket total rides a broadcast cross join (no collect), and
# every metric is integer products with one final IEEE division.
# ---------------------------------------------------------------------------
_BASKET_MINSUP, _BASKET_TOPK = 3, 50


def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the basket relation feeds the total, the item counts AND both
    # sides of the pair join — checkpoint so the distinct runs once
    pl = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    nb = pl.select(F.countDistinct("l_orderkey").alias("nb"))
    item = pl.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    pair = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MINSUP)
    )
    out = (
        pair.join(item.select(F.col("p").alias("u"), F.col("c").alias("n_u")), "u")
        .join(item.select(F.col("p").alias("v"), F.col("c").alias("n_v")), "v")
        .crossJoin(F.broadcast(nb))
    )
    return (
        out.select(
            "u",
            "v",
            "n_both",
            "n_u",
            "n_v",
            (F.col("n_both").cast("double") / F.col("nb")).alias("support"),
            (
                (F.col("nb") * F.col("n_both")).cast("double")
                / (F.col("n_u") * F.col("n_v")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "u", "v")
        .limit(_BASKET_TOPK)
    )


BASKET_PAIR_LIFT_SQL = f"""
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM pl),
item AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS c
         FROM pl GROUP BY 1),
pair AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM pl a JOIN pl b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_BASKET_MINSUP}
)
SELECT pair.u, pair.v, pair.n_both,
       iu.c AS n_u, iv.c AS n_v,
       CAST(pair.n_both AS DOUBLE) / n.nb AS support,
       CAST(n.nb * pair.n_both AS DOUBLE)
           / CAST(iu.c * iv.c AS DOUBLE) AS lift
FROM pair
JOIN item iu ON iu.p = pair.u
JOIN item iv ON iv.p = pair.v
CROSS JOIN n
ORDER BY lift DESC, pair.u, pair.v
LIMIT {_BASKET_TOPK}
"""


# ---------------------------------------------------------------------------
# SUPPLIER PARETO BY NATION — concentration analytics: per nation, how
# many suppliers cover 80% of revenue (the "how concentrated is my
# supply base" number) plus the top supplier's share. The cumulative
# sum runs over SCALED-INTEGER revenue longs (exact in any order;
# doubles would drift), the window partitions by nation (never a
# global single-task sort), and the 80% test is the integer
# cross-multiplication 5*(cum - rev) < 4*total — a supplier is needed
# iff the suppliers before it haven't reached the threshold.
# ---------------------------------------------------------------------------
def supplier_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev_scaled = F.sum(
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
        ).cast("long")
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(rev_scaled.alias("rs"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("n_name", "l_suppkey", "rs")
    )
    wn = Window.partitionBy("n_name")
    wcum = wn.orderBy(F.desc("rs"), F.asc("l_suppkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_supp.select(
        "n_name",
        "rs",
        F.sum("rs").over(wcum).alias("cum"),
        F.sum("rs").over(wn).alias("total"),
        F.max("rs").over(wn).alias("top_rs"),
    )
    needed = F.when(
        F.lit(5) * (F.col("cum") - F.col("rs")) < F.lit(4) * F.col("total"), 1
    ).otherwise(0)
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(needed).cast("long").alias("n_top80"),
            (F.max("top_rs").cast("double") / F.max("total").cast("double")).alias(
                "top_share"
            ),
            (F.max("total").cast("double") / F.lit(1e6)).alias("revenue"),
        )
        .orderBy("n_name")
    )


SUPPLIER_PARETO_BY_NATION_SQL = """
WITH per_supp AS (
    SELECT n.n_name, l.l_suppkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000)
                         AS BIGINT)) AS BIGINT) AS rs
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, l.l_suppkey
), ranked AS (
    SELECT n_name, rs,
           SUM(rs) OVER (PARTITION BY n_name ORDER BY rs DESC, l_suppkey
                         ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(rs) OVER (PARTITION BY n_name) AS total,
           MAX(rs) OVER (PARTITION BY n_name) AS top_rs
    FROM per_supp
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CASE WHEN 5 * (cum - rs) < 4 * total THEN 1 ELSE 0 END)
            AS BIGINT) AS n_top80,
       CAST(MAX(top_rs) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS top_share,
       CAST(MAX(total) AS DOUBLE) / 1000000 AS revenue
FROM ranked
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# COHORT LTV MATRIX — acquisition-quarter x order-quarter revenue
# triangle: each customer joins the cohort of their FIRST order's
# quarter, and every later order's revenue accrues to the (cohort,
# order-quarter) cell — the lifetime-value curve finance reads off the
# diagonal. All-exact: integer counts, countDistinct customers, and
# scaled-integer revenue sums. Scale shape: one custkey rollup for the
# cohort map, one join back keyed the same way, one cell rollup
# (cells are calendar x calendar — tiny).
# ---------------------------------------------------------------------------
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("quarter", F.min("o_orderdate")).alias("cohort_q")
    )
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort_q",
            F.date_trunc("quarter", "o_orderdate").alias("order_q"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("cohort_q", "order_q")
    )


ORDERS_COHORT_LTV_SQL = f"""
WITH first AS (
    SELECT o_custkey, DATE_TRUNC('quarter', MIN(o_orderdate)) AS cohort_q
    FROM orders GROUP BY o_custkey
)
SELECT f.cohort_q,
       DATE_TRUNC('quarter', o.o_orderdate) AS order_q,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sum_sql('o_totalprice')} AS revenue
FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
GROUP BY f.cohort_q, order_q
ORDER BY f.cohort_q, order_q
"""


QUERIES: dict[str, QuerySpec] = {
    "mv_incremental_refresh": QuerySpec(
        mv_incremental_refresh, MV_INCREMENTAL_REFRESH_SQL,
        tags=("T6", "A2", "A7", "S6"),
        doc="incremental MV maintenance: stored mergeable partials + "
        "delta-only aggregation == full recompute",
    ),
    "merge_cdc_apply": QuerySpec(
        merge_cdc_apply, MERGE_CDC_APPLY_SQL, tags=("T6", "J4", "W1"),
        doc="MERGE INTO semantics: compacted CDC feed full-outer-resolved "
        "against the base snapshot",
    ),
    "scan_file_lineage": QuerySpec(
        scan_file_lineage, None, tags=("S6", "P4"),
        doc="_metadata hidden column: per-file lineage/audit counts "
        "from the scan itself",
    ),
    "sink_dpp_join": QuerySpec(
        sink_dpp_join, SINK_DPP_JOIN_SQL,
        tags=("S6", "P4", "J2", "A2"),
        doc="dynamic partition pruning: join-derived partition filter "
        "on the partitioned sink, plan-pinned",
    ),
    "sink_bucketed_join": QuerySpec(
        sink_bucketed_join, SINK_BUCKETED_JOIN_SQL,
        tags=("S6", "J3", "A2"),
        doc="bucketed+sorted external tables joined with zero exchanges; "
        "oracle is the identical join over raw tables",
    ),
    "sink_partitioned_pruned": QuerySpec(
        sink_partitioned_pruned, SINK_PARTITIONED_PRUNED_SQL,
        tags=("S6", "P4"),
        doc="write_partitioned(day) read back through partition pruning, "
        "value-checked; plan pin asserts one-file scan",
    ),
    "sink_zorder_minmax": QuerySpec(
        sink_zorder_minmax, SINK_ZORDER_MINMAX_SQL,
        tags=("S6", "P3", "P5"),
        doc="write_zordered(user_id, value) read back through a 2-D "
        "pushed predicate, value-checked; footer pin proves per-file "
        "min/max locality on both columns",
    ),
    "sink_clustered_minmax": QuerySpec(
        sink_clustered_minmax, SINK_CLUSTERED_MINMAX_SQL,
        tags=("S6", "P3"),
        doc="write_clustered(o_orderdate) read back through a pushed range "
        "predicate over disjoint file ranges, value-checked",
    ),
    "manifest_snapshot_diff": QuerySpec(
        manifest_snapshot_diff, MANIFEST_SNAPSHOT_DIFF_SQL,
        tags=("S6", "T6", "J6", "A2"),
        doc="manifest time travel + min/max file skipping, value-checked",
    ),
    "heavy_hitters": QuerySpec(
        heavy_hitters, HEAVY_HITTERS_SQL, tags=("A4", "A2", "J5"),
        doc="count-min-sketch candidates + exact verify == GROUP BY/HAVING",
    ),
    "sql_q5_region_revenue": QuerySpec(
        sql_q5_region_revenue, SQL_Q5_REGION_REVENUE_SQL,
        tags=("J1", "J2", "A2", "O1"), bench=True,
        doc="TPC-H Q5 shape: six-way join, broadcast dims, local-supplier predicate",
    ),
    "repetition_ratio": QuerySpec(
        repetition_ratio, REPETITION_RATIO_SQL, tags=("L4", "F6"),
        doc="duplicate-bigram fraction per doc (Gopher-style quality gate)",
    ),
    "bigram_lm_topk": QuerySpec(
        bigram_lm_topk, BIGRAM_LM_TOPK_SQL, tags=("L4", "A2", "W3", "O3"),
        doc="corpus bigram LM counts + conditional probabilities, top-k",
    ),
    "supplier_pareto_by_nation": QuerySpec(
        supplier_pareto_by_nation, SUPPLIER_PARETO_BY_NATION_SQL,
        tags=("A2", "W3", "J2"),
        doc="revenue-concentration Pareto per nation: scaled-integer "
        "cumulative sums, nation-partitioned window, integer 80% gate",
    ),
    "orders_cohort_ltv": QuerySpec(
        orders_cohort_ltv, ORDERS_COHORT_LTV_SQL, tags=("A2", "A3", "F2"),
        doc="acquisition-quarter x order-quarter LTV revenue triangle; "
        "all-exact counts and scaled-integer revenue",
    ),
    "basket_pair_lift": QuerySpec(
        basket_pair_lift, BASKET_PAIR_LIFT_SQL, tags=("J1", "A2", "O3"),
        doc="market-basket pair lift (frequently-bought-together): "
        "order-group-bounded pair expansion, minsup before the count "
        "joins, broadcast basket total, integer-exact metrics",
    ),
    "evt_gap_fill": QuerySpec(
        evt_gap_fill, EVT_GAP_FILL_SQL, tags=("T6", "W3", "F2"),
        doc="per-user hourly spine + forward fill (resample/interpolate)",
    ),
}
