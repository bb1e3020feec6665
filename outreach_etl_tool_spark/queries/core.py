"""Core relational queries: scans, projections, filters, sorts, set ops,
scalar functions (SURVEY.md §2.1-2.2, §2.6-2.8).

Each query reads the declared-schema parquet tables (catalog.py) and is
paired with a DuckDB oracle. Reference anchors cited per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import avg_sql, exact_avg, exact_sum, sum_sql
from ..operators.util import ensure_parallelism
from . import QuerySpec


# ---------------------------------------------------------------------------
# Flagship: "sequence engagement funnel" shape (SURVEY.md §7 step 1).
# The reference's heart is reproducing per-sequence engagement counters by
# aggregating the mailings fact over its FK (etl_tools schema model +
# schemas/sequences.json:6-71); here: orders ⋈ customer ⋈ nation → grouped
# counters. nation is broadcast (dim); customer⋈orders is left to AQE.
# ---------------------------------------------------------------------------
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
            exact_avg("o_totalprice").alias("avg_order_value"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy(F.desc("revenue"), "n_name", "o_orderstatus")
    )


FUNNEL_SQL = f"""
SELECT n_name, o_orderstatus,
       COUNT(*) AS n_orders,
       {sum_sql('o_totalprice')} AS revenue,
       {avg_sql('o_totalprice')} AS avg_order_value,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderstatus
ORDER BY revenue DESC, n_name, o_orderstatus
"""


# ---------------------------------------------------------------------------
# TPC-H-Q1-shaped pricing summary: the canonical wide grouped aggregation
# (A2/A6 heart). Per-row arithmetic stays in IEEE double (identical in both
# engines); sums go through exact decimal (functions/scalars.py).
# ---------------------------------------------------------------------------
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No ensure_parallelism here: for a pure-JVM partial agg the
    # repartition shuffle costs more than single-split decode saves
    # (measured); the repartition only pays off before Python/UDF work.
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price, scale=6).alias("sum_disc_price"),
            exact_sum(charge, scale=6).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount", scale=6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sum_sql('l_quantity')} AS sum_qty,
       {sum_sql('l_extendedprice')} AS sum_base_price,
       {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS sum_disc_price,
       {sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', scale=6)} AS sum_charge,
       {avg_sql('l_quantity')} AS avg_qty,
       {avg_sql('l_extendedprice')} AS avg_price,
       {avg_sql('l_discount', scale=6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# P1+P2 — column drop + bulk rename. The reference drops the heavy mailing
# bodies before materializing (outreach_etl.py:105-107) and strips the
# `attributes_` prefix from every column (outreach_etl.py:216). Same shape:
# drop wide/cold columns early (column pruning reaches the scan), bulk-rename
# with a pure metadata op (no shuffle).
# ---------------------------------------------------------------------------
def project_drop_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    slim = li.drop("l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    renamed = slim.toDF(*[c.removeprefix("l_") for c in slim.columns])
    return renamed.filter(F.col("quantity") > 40)


PROJECT_DROP_RENAME_SQL = """
SELECT l_orderkey AS orderkey, l_partkey AS partkey, l_suppkey AS suppkey,
       l_linenumber AS linenumber, l_quantity AS quantity,
       l_extendedprice AS extendedprice, l_discount AS discount
FROM lineitem
WHERE l_quantity > 40
"""


# ---------------------------------------------------------------------------
# P3 — range predicate on a timestamp, pushed down to the parquet scan
# (the reference pushes its updatedAt=lo..hi filter to its source,
# outreach_etl.py:115-117; Catalyst pushes BETWEEN to row-group min/max).
# ---------------------------------------------------------------------------
def filter_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_events_between

    # bound-translated so the range reaches the parquet scan as a
    # raw-nanos filter (row-group pruning); see load_events_between
    ev = load_events_between(
        spark, sf_dir, "2024-01-02 00:00:00", "2024-01-04 23:59:59"
    )
    return ev.select("event_id", "ts", "user_id", "event_type")


FILTER_TS_RANGE_SQL = """
SELECT event_id, ts, user_id, event_type
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-04 23:59:59'
"""


# ---------------------------------------------------------------------------
# P4 — single-day equality predicate (the reference's per-day chunked scan,
# outreach_etl.py:164-166).
# ---------------------------------------------------------------------------
def filter_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_events_between

    # a day filter IS a ts range — translated to pushable raw bounds
    ev = load_events_between(
        spark, sf_dir, "2024-01-03 00:00:00", "2024-01-03 23:59:59.999999"
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"), exact_sum("value").alias("total_value")
    )


FILTER_DAY_SQL = f"""
SELECT event_type, COUNT(*) AS n, {sum_sql('value')} AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-03'
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# P5/P6 — boolean/null predicates + computed projection (the reference's
# opted-out boolean columns, schemas/prospects.json:290-292).
# ---------------------------------------------------------------------------
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("value") > 100.0)
        & F.col("props").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "event_type",
        (F.col("value") * 2.0).alias("value_x2"),
        F.col("value").isNotNull().alias("has_value"),
    )


FILTER_PREDICATES_SQL = """
SELECT event_id, event_type, value * 2.0 AS value_x2,
       value IS NOT NULL AS has_value
FROM events
WHERE value > 100.0 AND props IS NOT NULL
  AND event_type IN ('click', 'purchase')
"""


# ---------------------------------------------------------------------------
# O1-O3 — sort desc + limit → TakeOrderedAndProject (the reference's
# sort=-updatedAt & page[limit] pushed to its API, outreach_etl.py:115-116).
# Deterministic tiebreak on the key so top-k is hash-stable.
# ---------------------------------------------------------------------------
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


TOP_K_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


# ---------------------------------------------------------------------------
# O2 — offset pagination via row_number (the reference pages with
# page[limit]=100 + links.next, outreach_etl.py:116,136).
# ---------------------------------------------------------------------------
def paginate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 100) & (F.col("rn") <= 200))
        .select("rn", "o_orderkey", "o_orderdate")
    )


PAGINATE_ORDERS_SQL = """
SELECT rn, o_orderkey, o_orderdate FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate DESC, o_orderkey ASC) AS INTEGER) AS rn,
         o_orderkey, o_orderdate
  FROM orders
) WHERE rn > 100 AND rn <= 200
"""


# ---------------------------------------------------------------------------
# U1 — union-by-name with missing columns (the reference's
# concat-against-declared-schema pattern: pd.concat sort=False onto the
# schema frame, outreach_etl.py:154 + etl_tools.py:41; absent cols → null).
# ---------------------------------------------------------------------------
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    with_price = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    with_status = orders.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey", "o_orderstatus"
    )
    return with_price.unionByName(with_status, allowMissingColumns=True)


UNION_BY_NAME_SQL = """
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderstatus
FROM orders WHERE o_orderstatus <> 'F'
"""


# ---------------------------------------------------------------------------
# U2 — intersect / except (distinct set semantics).
# ---------------------------------------------------------------------------
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select("o_custkey")
    h2 = orders.filter(F.month("o_orderdate") > 6).select("o_custkey")
    return h1.intersect(h2)


SET_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE MONTH(o_orderdate) <= 6
INTERSECT
SELECT o_custkey FROM orders WHERE MONTH(o_orderdate) > 6
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.select("c_custkey").exceptAll(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    )


SET_EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS c_custkey FROM orders
"""


# U2b — INTERSECT ALL (bag semantics): per key the MIN of the two
# multiplicities survives — the multiset intersection distinct-based
# intersect() cannot express (a customer with 3 H1 orders and 2 H2
# orders contributes 2 rows, not 1). Engine-internal shape: count
# aggregation per side + generator, one shuffle per side.
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select("o_custkey")
    h2 = orders.filter(F.month("o_orderdate") > 6).select("o_custkey")
    return h1.intersectAll(h2)


SET_INTERSECT_ALL_SQL = """
SELECT o_custkey FROM orders WHERE MONTH(o_orderdate) <= 6
INTERSECT ALL
SELECT o_custkey FROM orders WHERE MONTH(o_orderdate) > 6
"""


# ---------------------------------------------------------------------------
# U3 — dedup after union (the reference's boundary double-fetch requires
# dropDuplicates, SURVEY.md §2.12 bug 4 → correct semantics here).
# ---------------------------------------------------------------------------
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    doubled = orders.select("o_custkey", "o_orderstatus").unionAll(
        orders.select("o_custkey", "o_orderstatus")
    )
    return doubled.dropDuplicates()


DISTINCT_PAIRS_SQL = """
SELECT DISTINCT o_custkey, o_orderstatus FROM (
  SELECT o_custkey, o_orderstatus FROM orders
  UNION ALL
  SELECT o_custkey, o_orderstatus FROM orders
)
"""


# ---------------------------------------------------------------------------
# F1 — string functions (the reference's prefix strip outreach_etl.py:216,
# name concat :217).
# ---------------------------------------------------------------------------
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.split("p_type", " ").getItem(0).alias("type_first_word"),
    )


SCALAR_STRINGS_SQL = """
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       LOWER(p_type) AS type_lower,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
       SUBSTRING(p_name, 1, 5) AS name_head,
       CONCAT_WS('#', p_brand, p_type) AS brand_type,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       p_type LIKE '%BRASS%' AS is_brass,
       STRING_SPLIT(p_type, ' ')[1] AS type_first_word
FROM part
"""


# ---------------------------------------------------------------------------
# F2 — date/time functions (the reference's strftime/timedelta date math,
# outreach_etl.py:117,159-160,225-229, and the per-day date_list expansion
# :160 → sequence()+explode).
# ---------------------------------------------------------------------------
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month_num"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("2025-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "age_days"
        ),
    )


SCALAR_DATES_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       STRFTIME(o_orderdate, '%Y-%m') AS order_month,
       CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
       CAST(MONTH(o_orderdate) AS INTEGER) AS order_month_num,
       CAST(DAY(o_orderdate) AS INTEGER) AS order_day,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS INTEGER) AS age_days
FROM orders
"""


# ---------------------------------------------------------------------------
# F2b — date sequence expansion (the reference's date_list between start and
# yesterday, outreach_etl.py:159-160): sequence() + explode == generate_series.
# ---------------------------------------------------------------------------
def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )


DATE_SPINE_SQL = """
SELECT CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
FROM (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events)
"""


# ---------------------------------------------------------------------------
# F3/F4/F5 — math / conditional / cast (the reference's math.ceil page count
# outreach_etl.py:130,188; NaN-for-absent etl_tools.py:41; dtype coercion
# etl_tools.py:45-61).
# ---------------------------------------------------------------------------
def scalar_math_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.ceil(F.col("l_quantity") / F.lit(7.0)).alias("pages"),
        # NOTE: double ROUND() is engine-specific near ties (Spark BigDecimal
        # HALF_UP vs DuckDB's scaled-floor) — for oracle-checked output we
        # round via an exact decimal cast, identical in both engines.
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price_h"),
        F.when(F.col("l_discount") >= 0.05, F.lit("deep"))
        .when(F.col("l_discount") > 0.0, F.lit("some"))
        .otherwise(F.lit("none"))
        .alias("discount_band"),
        F.coalesce(F.col("l_returnflag"), F.lit("?")).alias("flag"),
        F.col("l_quantity").cast("long").alias("qty_int"),
        F.col("l_linenumber").cast("double").alias("line_dbl"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dist"),
    )


SCALAR_MATH_COND_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS pages,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_h,
       CASE WHEN l_discount >= 0.05 THEN 'deep'
            WHEN l_discount > 0.0 THEN 'some'
            ELSE 'none' END AS discount_band,
       COALESCE(l_returnflag, '?') AS flag,
       CAST(l_quantity AS BIGINT) AS qty_int,
       CAST(l_linenumber AS DOUBLE) AS line_dbl,
       CAST(l_shipdate AS DATE) AS ship_day,
       ABS(l_discount - 0.05) AS disc_dist
FROM lineitem
"""


# ---------------------------------------------------------------------------
# F7 — JSON access over the open props block (the reference's custom1..55
# open attribute block, schemas/prospects.json:119-283, → MapType/JSON ops).
# ---------------------------------------------------------------------------
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.max("k").alias("max_k"))
    )


JSON_PROPS_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
"""


# F7b — VARIANT path (Spark 4): parse the JSON column ONCE into the
# binary variant encoding, then extract typed fields with variant_get.
# At scale this is the difference between re-parsing a JSON string per
# extraction and shredding a compact binary once — the semi-structured
# execution path Spark 4 added for exactly this workload. The oracle
# extracts the same path from the same JSON text.
def json_variant_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_VARIANT_PATH_SQL = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# F6 — array functions over the embedding column (the reference's positional
# list columns x_0/x_1 + meta_count, etl_tools.py:184-188,
# schemas/prospects.json:503-505 → element_at/size on real arrays).
# ---------------------------------------------------------------------------
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", -1).cast("double").alias("last_val"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.array_min("embedding").cast("double").alias("min_val"),
    )


ARRAY_OPS_SQL = """
SELECT vec_id,
       CAST(LEN(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       CAST(embedding[-1] AS DOUBLE) AS last_val,
       CAST(LIST_MAX(embedding) AS DOUBLE) AS max_val,
       CAST(LIST_MIN(embedding) AS DOUBLE) AS min_val
FROM embeddings
"""


# ---------------------------------------------------------------------------
# SQL surface: the same engine through spark.sql over the registered
# catalog views (SURVEY.md §3.4 — engine.sql(str) entry path). One SQL
# text serves both engines, proving the surface is ANSI-portable.
# ---------------------------------------------------------------------------
SQL_SURFACE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sum_sql('o_totalprice')} AS revenue
FROM orders
WHERE o_totalprice > 1000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_SURFACE_SQL)


# TPC-H Q3 shape (shipping priority), dates shifted into the testdata's
# 1995-2001 range: 3-table join, filtered fact scan, grouped exact-
# decimal revenue, deterministic top-10. Catalyst picks broadcast for
# customer and SMJ/shuffle-hash for orders⋈lineitem; both date filters
# push to the parquet scans.
SQL_Q3_SHIPPING_SQL = f"""
SELECT l_orderkey,
       {sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def sql_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_Q3_SHIPPING_SQL)


# TPC-H Q10 shape (returned-item losses by customer), same single-text
# treatment: 4-table join with a broadcast dim chain, quarter-bounded
# fact scan, exact-decimal revenue, top-20.
SQL_Q10_RETURNS_SQL = f"""
SELECT c_custkey, c_name,
       {sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def sql_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_Q10_RETURNS_SQL)


# GROUPING SETS through one ANSI text (A5's third form beyond
# rollup/cube): three explicit grouping levels in a single pass —
# Spark plans one Expand + one hash agg, not three scans.
SQL_GROUPING_SETS_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       {sum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_GROUPING_SETS_SQL)


# Correlated LATERAL subquery with per-group ORDER BY + LIMIT — the
# SQL spelling of top-n-per-key. Catalyst decorrelates it into a
# ranked window join; the identical text runs on DuckDB.
SQL_LATERAL_TOPN_SQL = """
SELECT c_custkey, o.o_orderkey, o.o_totalprice
FROM customer, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) o
"""


def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_LATERAL_TOPN_SQL)


# F4b/F5b — ANSI-safe error handling: Spark 4 runs with
# spark.sql.ansi.enabled=true, where a bad cast or division by zero
# THROWS mid-job instead of silently nulling — on a 1000-executor run
# one malformed row kills hours of work. The sanctioned pattern is the
# try_* family: try_cast yields NULL for unparseable input (counted,
# not fatal) and try_divide yields NULL on zero divisors. The oracle
# mirrors try_cast with DuckDB's TRY_CAST and try_divide's null set
# with its zero-divisor predicate. All JVM-side, one agg exchange.
def scalar_try_ansi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    full_cast = F.col("o_orderpriority").try_cast("int")
    prefix_cast = F.split(F.col("o_orderpriority"), "-").getItem(0).try_cast(
        "int"
    )
    zero_div = F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(prefix_cast).alias("prio_num"),
            F.sum(
                F.when(full_cast.isNull(), 1).otherwise(0).cast("bigint")
            ).alias("n_unparseable"),
            F.sum(
                F.when(zero_div.isNull(), 1).otherwise(0).cast("bigint")
            ).alias("n_zero_div"),
        )
        .orderBy("o_orderpriority")
    )


SCALAR_TRY_ANSI_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       MIN(TRY_CAST(string_split(o_orderpriority, '-')[1] AS INTEGER))
           AS prio_num,
       CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable,
       CAST(SUM(CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_div
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "scalar_try_ansi": QuerySpec(
        scalar_try_ansi, SCALAR_TRY_ANSI_SQL, tags=("F4", "F5", "F1"),
        doc="ANSI-safe try_cast/try_divide: malformed input nulls and "
        "is counted instead of killing the job",
    ),
    "sql_surface": QuerySpec(
        sql_surface, SQL_SURFACE_SQL, tags=("S6", "A2"),
        doc="identical SQL text through spark.sql and the oracle",
    ),
    "sql_q3_shipping": QuerySpec(
        sql_q3_shipping, SQL_Q3_SHIPPING_SQL,
        tags=("S6", "J1", "J3", "A2", "O3"), bench=True,
        doc="TPC-H Q3 shape via spark.sql, single ANSI text both engines",
    ),
    "sql_q10_returns": QuerySpec(
        sql_q10_returns, SQL_Q10_RETURNS_SQL,
        tags=("S6", "J1", "J2", "A2", "O3"),
        doc="TPC-H Q10 shape via spark.sql, single ANSI text both engines",
    ),
    "sql_grouping_sets": QuerySpec(
        sql_grouping_sets, SQL_GROUPING_SETS_SQL, tags=("A5", "A2"),
        doc="GROUPING SETS single-text: one Expand pass, three levels",
    ),
    "sql_lateral_topn": QuerySpec(
        sql_lateral_topn, SQL_LATERAL_TOPN_SQL, tags=("J1", "O3", "W1"),
        doc="correlated LATERAL top-n-per-key, decorrelated by Catalyst",
    ),
    "funnel": QuerySpec(
        funnel, FUNNEL_SQL, tags=("S6", "J1", "J2", "A2", "A3", "O1", "O2"), bench=True
    ),
    "pricing_summary": QuerySpec(
        pricing_summary, PRICING_SUMMARY_SQL, tags=("A2", "A6", "F3"), bench=True
    ),
    "project_drop_rename": QuerySpec(
        project_drop_rename, PROJECT_DROP_RENAME_SQL, tags=("P1", "P2")
    ),
    "filter_ts_range": QuerySpec(filter_ts_range, FILTER_TS_RANGE_SQL, tags=("P3",)),
    "filter_day": QuerySpec(filter_day, FILTER_DAY_SQL, tags=("P4",)),
    "filter_predicates": QuerySpec(
        filter_predicates, FILTER_PREDICATES_SQL, tags=("P5", "P6")
    ),
    "top_k_orders": QuerySpec(
        top_k_orders, TOP_K_ORDERS_SQL, tags=("O1", "O2", "O3"), bench=True
    ),
    "paginate_orders": QuerySpec(paginate_orders, PAGINATE_ORDERS_SQL, tags=("O2",)),
    "union_by_name": QuerySpec(union_by_name, UNION_BY_NAME_SQL, tags=("U1",)),
    "set_intersect": QuerySpec(set_intersect, SET_INTERSECT_SQL, tags=("U2",)),
    "set_except": QuerySpec(set_except, SET_EXCEPT_SQL, tags=("U2",)),
    "set_intersect_all": QuerySpec(
        set_intersect_all, SET_INTERSECT_ALL_SQL, tags=("U2",),
        doc="INTERSECT ALL bag semantics: min multiplicity per key "
        "survives (the multiset form distinct-intersect cannot express)",
    ),
    "distinct_pairs": QuerySpec(distinct_pairs, DISTINCT_PAIRS_SQL, tags=("U3",)),
    "scalar_strings": QuerySpec(scalar_strings, SCALAR_STRINGS_SQL, tags=("F1",)),
    "scalar_dates": QuerySpec(scalar_dates, SCALAR_DATES_SQL, tags=("F2",)),
    "date_spine": QuerySpec(date_spine, DATE_SPINE_SQL, tags=("F2",)),
    "scalar_math_cond": QuerySpec(
        scalar_math_cond, SCALAR_MATH_COND_SQL, tags=("F3", "F4", "F5")
    ),
    "json_props": QuerySpec(json_props, JSON_PROPS_SQL, tags=("F7",)),
    "json_variant_path": QuerySpec(
        json_variant_path, JSON_VARIANT_PATH_SQL, tags=("F7",),
        doc="Spark-4 VARIANT: parse_json once + typed variant_get",
    ),
    "array_ops": QuerySpec(array_ops, ARRAY_OPS_SQL, tags=("F6",)),
}
