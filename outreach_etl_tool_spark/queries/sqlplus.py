"""Round-6 SQL-surface extensions + PII scrub.

Three more classic decision-support shapes (TPC-H Q7/Q14/Q19 adapted
to the testdata's columns) and a PII-redaction pipeline operator —
the redaction pass every training-data pipeline runs before text ever
reaches a tokenizer (C4/RefinedWeb-style regex scrubbing).

Registry contract as everywhere: identical column aliases in the
Spark plan and the DuckDB oracle; every float that reaches the value
hash is either an exact scaled-integer sum divided back in one IEEE
op, or a ratio of two such sums (both engines perform the identical
final division).

Scale notes are per-query; the common theme is that each query's only
wide operation is the single fact-fact shuffle (or none), with dims
broadcast and predicates pushed to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.expr import bind_once
from ..functions.scalars import exact_sum, sum_sql
from ..functions.text import token_bigrams, tokens
from ..operators.util import ensure_parallelism
from . import QuerySpec


# ---------------------------------------------------------------------------
# SQL Q7 — volume shipping between two nations (TPC-H Q7 shape).
# lineitem⋈orders is the one fact-fact shuffle. Only the two 25-row
# nation copies get an explicit broadcast hint — supplier and customer
# SCALE with the corpus (hinting them would be wrong at 100 TB), so
# their join strategy is left to Catalyst/AQE, which broadcasts at toy
# sf and shuffles at scale. The nation-pair predicate references both
# sides, so it evaluates post-join; Catalyst still prunes columns and
# pushes the join keys' IsNotNull to every scan.
# ---------------------------------------------------------------------------
_Q7_N1, _Q7_N2 = "NATION_3", "NATION_7"


def sql_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(exact_sum(volume, scale=6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_Q7_NATION_VOLUME_SQL = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
   OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# SQL Q14 — promo revenue share by ship month (TPC-H Q14, grouped by
# month instead of a one-row scalar so the evidence is non-trivial).
# Shape: lineitem⋈part with part broadcast; one groupBy shuffle on the
# truncated month. promo_share divides two exact scaled-integer sums —
# the numerator×100 and the final division are each one IEEE double op
# both engines execute identically on identical inputs.
# ---------------------------------------------------------------------------
def sql_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            exact_sum(revenue, scale=6).alias("revenue"),
            (
                F.lit(100.0)
                * exact_sum(promo, scale=6)
                / exact_sum(revenue, scale=6)
            ).alias("promo_share"),
        )
        .orderBy("ship_month")
    )


SQL_Q14_PROMO_SHARE_SQL = f"""
SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
       {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue,
       100.0 * ({sum_sql(
           "CASE WHEN p_type = 'PROMO'"
           " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
           scale=6)})
            / ({sum_sql('l_extendedprice * (1 - l_discount)', scale=6)})
           AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ship_month
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# SQL Q19 — disjunctive bracket predicate (TPC-H Q19 shape): revenue
# from three (brand, size-range, quantity-range) brackets OR-ed
# together. The point at scale: Catalyst extracts the common
# `p_brand IN (...)` / `p_size BETWEEN 1 AND 40` factors where it can
# and pushes per-table conjuncts below the join, so the broadcast part
# scan reads a fraction of the table; the OR itself evaluates post-join
# in whole-stage codegen, never in Python.
# ---------------------------------------------------------------------------
def sql_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # brackets chosen inside the generated domains (brands run
    # Brand#1..25) and verified non-empty per-arm at every driver sf —
    # a bracket that can never match is dead predicate, not evidence
    b = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 40)
            & F.col("l_quantity").between(20, 40)
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .filter(b)
        .groupBy("p_brand")
        .agg(
            exact_sum(revenue, scale=6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


SQL_Q19_BRACKET_REVENUE_SQL = f"""
SELECT p_brand,
       {sum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 40
       AND l_quantity BETWEEN 20 AND 40)
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# PII REDACTION — the scrub pass a training pipeline runs before
# tokenization. The synthetic corpus carries no real PII, so the query
# first derives a deterministic contaminated view (docs with
# doc_id%3==0 gain an email, %3==1 a phone number — built from doc_id,
# so both engines construct byte-identical inputs), then redacts with
# the standard email/phone regexes and reports per-source audit
# counts plus an order-free checksum of the redacted bytes.
#
# Scale shape: zero shuffles before the final per-source rollup; the
# regex work is whole-stage-codegen JVM per-row projection (Java regex
# here, RE2 in the oracle — the patterns below use only syntax the two
# engines interpret identically). The checksum is a SUM over the first
# 16 hex digits of each row's md5 — order-independent, collision-safe
# enough for evidence, and avoids hashing row order.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    contaminated = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(
            F.col("text"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(contaminated, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.select(
            "source",
            F.regexp_count(contaminated, F.lit(_EMAIL_RE)).alias("ne"),
            F.regexp_count(contaminated, F.lit(_PHONE_RE)).alias("np"),
            F.conv(F.substring(F.md5(redacted), 1, 16), 16, 10)
            .cast("decimal(38,0)")
            .alias("h"),
        )
        .groupBy("source")
        .agg(
            F.sum("ne").alias("n_emails"),
            F.sum("np").alias("n_phones"),
            F.sum("h").cast("decimal(38,0)").cast("string").alias("redacted_checksum"),
        )
        .orderBy("source")
    )


PII_REDACT_SQL = f"""
WITH contaminated AS (
    SELECT source,
           CASE
             WHEN doc_id % 3 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
             WHEN doc_id % 3 = 1 THEN
               text || ' call 555-'
                    || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text
           END AS ctext
    FROM documents
), redacted AS (
    SELECT source,
           LEN(regexp_extract_all(ctext, '{_EMAIL_RE}')) AS ne,
           LEN(regexp_extract_all(ctext, '{_PHONE_RE}')) AS np,
           CAST(('0x' || SUBSTR(MD5(
               regexp_replace(regexp_replace(
                   ctext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g')), 1, 16))::UBIGINT
               AS DECIMAL(38,0)) AS h
    FROM contaminated
)
SELECT source,
       CAST(SUM(ne) AS BIGINT) AS n_emails,
       CAST(SUM(np) AS BIGINT) AS n_phones,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS redacted_checksum
FROM redacted
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# LM QUALITY SCORE — CCNet-style language-model document filter: train
# a bigram LM on the corpus itself (distributed counts), score every
# document by its mean bigram conditional probability. Low scores mark
# disfluent/boilerplate text the way an LM-perplexity filter does —
# expressed in closed rational form so the oracle is exact: each
# per-occurrence probability is one IEEE division of two exact
# integers, scaled to a 1e9 integer (ROUND agrees across engines, see
# functions/scalars.py) and summed order-free; only the final division
# is floating.
#
# Scale shape: one corpus pass builds occurrences; counts aggregate to
# vocab² rows (tiny vs corpus — AQE broadcasts them back), so the only
# corpus-sized shuffles are the count groupBy and the per-doc rollup.
# The occurrence frame is persisted across its two consumers (model
# build + scoring) to avoid re-tokenizing the corpus.
# ---------------------------------------------------------------------------
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    occ = (
        docs.select(
            "doc_id", F.explode(bind_once(tokens("text"), token_bigrams)).alias("p")
        )
        .select("doc_id", "p.prev", "p.nxt")
        # localCheckpoint, not persist (cache-leak hygiene)
        .localCheckpoint()
    )
    counts = occ.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("n_bi"))
    probs = counts.withColumn(
        "n_prev", F.sum("n_bi").over(Window.partitionBy("prev"))
    )
    scaled = F.round(
        F.lit(1000000000.0)
        * (F.col("n_bi").cast("double") / F.col("n_prev").cast("double"))
    ).cast("bigint")
    return (
        occ.join(probs, ["prev", "nxt"])
        .select("doc_id", scaled.alias("sp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("sp").cast("double")
                / (F.lit(1000000000.0) * F.count(F.lit(1)))
            ).alias("avg_bigram_prob"),
        )
    )


LM_QUALITY_SCORE_SQL = """
WITH arrs AS (
    SELECT doc_id, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
), occ AS (
    SELECT doc_id, arr[i] AS prev, arr[i + 1] AS nxt
    FROM arrs, UNNEST(generate_series(1, LEN(arr) - 1)) AS t(i)
    WHERE LEN(arr) >= 2
), counts AS (
    SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS n_bi FROM occ GROUP BY 1, 2
), probs AS (
    SELECT prev, nxt, n_bi,
           SUM(n_bi) OVER (PARTITION BY prev) AS n_prev
    FROM counts
)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(ROUND(1000000000.0 *
                (CAST(n_bi AS DOUBLE) / CAST(n_prev AS DOUBLE)))
            AS BIGINT)) AS DOUBLE)
           / (1000000000.0 * COUNT(*)) AS avg_bigram_prob
FROM occ o JOIN probs p ON o.prev = p.prev AND o.nxt = p.nxt
GROUP BY o.doc_id
"""


# ---------------------------------------------------------------------------
# TARGET-TRAINED LM FILTER — the actual CCNet shape (round-11):
# lm_quality_score above trains its bigram LM on the corpus ITSELF
# (self-perplexity = disfluency); CCNet's filter trains the LM on a
# TARGET domain (their Wikipedia KenLM) and scores the whole crawl by
# target-likeness. Here the target is the lang='en' split (the same
# target convention as DSIR/the quality classifier), the model is the
# add-1-smoothed bigram LM P(v|u) = (c_t(u,v)+1)/(c_t(u)+V) with V =
# |target vocabulary| — smoothing is what makes scoring the FULL
# corpus sound (off-target bigrams the target never saw get the
# uniform floor 1/(c_t(u)+V) instead of a hole). Each per-bigram
# probability is ROUND(1e9 · one IEEE division of exact integers)
# (the lm_quality_score discipline, engine-identical), summed
# order-free; one final division.
#
# Label note (the shared-vocabulary degeneracy, stated up front): the
# synthetic langs draw from one vocabulary, so driver-data scores
# barely separate by lang — the gate certifies the arithmetic; the
# planted disjoint-vocabulary pytest (tests/test_pipeline_ops.py)
# certifies the filter actually discriminates where domains differ.
#
# Scale shape: one corpus tokenize pass + one target-slice count
# rollup + the scoring join — the corpus shuffles once on (prev, nxt)
# for the left join. The model tables (counts_t/prev_t) are bounded by
# the OBSERVED target bigrams (up to ~1e8–1e9 rows for a real CCNet-
# style target, NOT the tiny vocab² of driver data), so they carry NO
# broadcast hint: AQE broadcasts them when they measure small and
# falls back to a shuffle join on (prev, nxt) — which the scoring pass
# shuffles on anyway — when they don't. Only V (1 row) is broadcast.
# ---------------------------------------------------------------------------
def lm_target_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return lm_target_score_frame(docs)


def lm_target_score_frame(
    docs: DataFrame, target_lang: str = "en"
) -> DataFrame:
    """The target-trained bigram LM over an arbitrary (doc_id, lang,
    text) frame — shared by the registry query and the materialized
    curation run's ``lm_gate="target"`` stage (round-12), which feeds
    it the TRAIN split only so the eval split leaks nothing into the
    model."""

    occ = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(bind_once(tokens("text"), token_bigrams)).alias("p"),
        )
        .select("doc_id", "lang", "p.prev", "p.nxt")
        # feeds the target model build AND the scoring pass
        .localCheckpoint()
    )
    tgt = occ.filter(F.col("lang") == target_lang)
    counts_t = tgt.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c_uv"))
    prev_t = tgt.groupBy("prev").agg(F.count(F.lit(1)).alias("c_u"))
    vocab = (
        tgt.select(F.col("prev").alias("t"))
        .unionAll(tgt.select(F.col("nxt").alias("t")))
        .agg(F.countDistinct("t").alias("v"))
    )
    sp = F.round(
        F.lit(1000000000.0)
        * (
            (F.coalesce("c_uv", F.lit(0)) + 1).cast("double")
            / (F.coalesce("c_u", F.lit(0)) + F.col("v")).cast("double")
        )
    ).cast("bigint")
    return (
        occ.join(counts_t, ["prev", "nxt"], "left")
        .join(prev_t, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "lang", sp.alias("sp"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("sp").cast("double")
                / (F.lit(1000000000.0) * F.count(F.lit(1)))
            ).alias("target_lm_score"),
        )
        .orderBy("doc_id")
    )


LM_TARGET_SCORE_SQL = """
WITH arrs AS (
    SELECT doc_id, lang, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
), occ AS (
    SELECT doc_id, lang, arr[i] AS prev, arr[i + 1] AS nxt
    FROM arrs, UNNEST(generate_series(1, LEN(arr) - 1)) AS t(i)
    WHERE LEN(arr) >= 2
), tgt AS (
    SELECT prev, nxt FROM occ WHERE lang = 'en'
), counts_t AS (
    SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c_uv FROM tgt GROUP BY 1, 2
), prev_t AS (
    SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_u FROM tgt GROUP BY 1
), vocab AS (
    SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
    FROM (SELECT prev AS t FROM tgt UNION ALL SELECT nxt FROM tgt)
)
SELECT o.doc_id, o.lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(ROUND(1000000000.0 *
                (CAST(COALESCE(c.c_uv, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(p.c_u, 0) + vocab.v AS DOUBLE)))
            AS BIGINT)) AS DOUBLE)
           / (1000000000.0 * COUNT(*)) AS target_lm_score
FROM occ o
LEFT JOIN counts_t c ON o.prev = c.prev AND o.nxt = c.nxt
LEFT JOIN prev_t p ON o.prev = p.prev, vocab
GROUP BY o.doc_id, o.lang
ORDER BY o.doc_id
"""


# ---------------------------------------------------------------------------
# EXCESS-LOSS DATA SELECTION — the RHO-1 / CCNet-importance shape
# (round-12): rank documents by how much MORE target-like than
# corpus-typical they are. lm_quality_score measures fluency under the
# corpus's own bigram LM; lm_target_score measures target-likeness
# under a model trained on the lang='en' split; the published
# selection signal is their DIFFERENCE (excess loss / importance
# log-ratio): a doc that the target model likes far more than the
# corpus model is target-domain signal, one both models score alike
# is generic, one the corpus model likes more is off-target.
#
# Exactness: both scores share the SAME tokenization and bigram count
# n per doc, so the ranking statistic is the INTEGER
# Σ(sp_t − sp_r) of the two 1e9-scaled per-occurrence probabilities —
# no float subtraction of two averaged doubles, no ordering seam.
# One occurrence pass feeds both models (corpus ML estimate — the
# lm_quality_score convention — and add-1-smoothed target — the
# lm_target_score convention); the cut is the CCNet head/middle/tail
# ntile(3) per source on the integer excess (DESC, doc_id tie-break),
# selected = the head bucket.
#
# Scale shape: one corpus tokenize pass (localCheckpoint feeds both
# model builds + scoring), two count rollups, one scoring join
# shuffling the corpus once on (prev, nxt); model tables carry NO
# broadcast hints (observed-bigram-sized at a real target — the
# round-12 lm_target_score discipline); the ntile window partitions
# by source.
# ---------------------------------------------------------------------------
def lm_excess_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return lm_excess_select_frame(docs)


def lm_excess_select_frame(
    docs: DataFrame, target_lang: str = "en"
) -> DataFrame:
    from pyspark.sql.window import Window

    occ = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.explode(bind_once(tokens("text"), token_bigrams)).alias("p"),
        )
        .select("doc_id", "source", "lang", "p.prev", "p.nxt")
        # feeds the corpus model, the target model AND the scoring pass
        .localCheckpoint()
    )
    # corpus model: ML estimate n_bi / n_prev (lm_quality_score)
    counts_r = occ.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).alias("n_bi")
    )
    probs_r = counts_r.withColumn(
        "n_prev", F.sum("n_bi").over(Window.partitionBy("prev"))
    )
    # target model: add-1 smoothed on the target split (lm_target_score)
    tgt = occ.filter(F.col("lang") == target_lang)
    counts_t = tgt.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c_uv"))
    prev_t = tgt.groupBy("prev").agg(F.count(F.lit(1)).alias("c_u"))
    vocab = (
        tgt.select(F.col("prev").alias("t"))
        .unionAll(tgt.select(F.col("nxt").alias("t")))
        .agg(F.countDistinct("t").alias("v"))
    )
    sp_t = F.round(
        F.lit(1000000000.0)
        * (
            (F.coalesce("c_uv", F.lit(0)) + 1).cast("double")
            / (F.coalesce("c_u", F.lit(0)) + F.col("v")).cast("double")
        )
    ).cast("bigint")
    sp_r = F.round(
        F.lit(1000000000.0)
        * (F.col("n_bi").cast("double") / F.col("n_prev").cast("double"))
    ).cast("bigint")
    scored = (
        occ.join(probs_r, ["prev", "nxt"])
        .join(counts_t, ["prev", "nxt"], "left")
        .join(prev_t, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "source", (sp_t - sp_r).alias("d"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("d").cast("bigint").alias("excess_scaled"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("excess_scaled"), F.asc("doc_id")
    )
    return (
        scored.withColumn("bucket", F.ntile(3).over(w))
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            "excess_scaled",
            "bucket",
            (F.col("bucket") == 1).alias("selected"),
        )
        .orderBy("doc_id")
    )


LM_EXCESS_SELECT_SQL = """
WITH arrs AS (
    SELECT doc_id, source, lang,
           regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
), occ AS (
    SELECT doc_id, source, lang, arr[i] AS prev, arr[i + 1] AS nxt
    FROM arrs, UNNEST(generate_series(1, LEN(arr) - 1)) AS t(i)
    WHERE LEN(arr) >= 2
), counts_r AS (
    SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS n_bi FROM occ GROUP BY 1, 2
), probs_r AS (
    SELECT prev, nxt, n_bi,
           SUM(n_bi) OVER (PARTITION BY prev) AS n_prev
    FROM counts_r
), tgt AS (
    SELECT prev, nxt FROM occ WHERE lang = 'en'
), counts_t AS (
    SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c_uv FROM tgt GROUP BY 1, 2
), prev_t AS (
    SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_u FROM tgt GROUP BY 1
), vocab AS (
    SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
    FROM (SELECT prev AS t FROM tgt UNION ALL SELECT nxt FROM tgt)
), scored AS (
    SELECT o.doc_id, o.source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(
               CAST(ROUND(1000000000.0 *
                    (CAST(COALESCE(c.c_uv, 0) + 1 AS DOUBLE)
                     / CAST(COALESCE(p.c_u, 0) + vocab.v AS DOUBLE)))
                AS BIGINT)
             - CAST(ROUND(1000000000.0 *
                    (CAST(r.n_bi AS DOUBLE) / CAST(r.n_prev AS DOUBLE)))
                AS BIGINT)
           ) AS BIGINT) AS excess_scaled
    FROM occ o
    JOIN probs_r r ON o.prev = r.prev AND o.nxt = r.nxt
    LEFT JOIN counts_t c ON o.prev = c.prev AND o.nxt = c.nxt
    LEFT JOIN prev_t p ON o.prev = p.prev, vocab
    GROUP BY o.doc_id, o.source, vocab.v
), ranked AS (
    SELECT doc_id, source, n_bigrams, excess_scaled,
           CAST(NTILE(3) OVER (PARTITION BY source
                               ORDER BY excess_scaled DESC, doc_id)
                AS INTEGER) AS bucket
    FROM scored
)
SELECT doc_id, source, n_bigrams, excess_scaled, bucket,
       bucket = 1 AS selected
FROM ranked
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# RFM SEGMENTATION — the classic customer-mart cube: per customer,
# Recency (days since last order, against the corpus max date so the
# anchor is data-derived, not wall-clock), Frequency (order count) and
# Monetary (exact scaled-integer revenue sum); each dimension scores
# 1..5 against its own broadcast QUINTILE THRESHOLDS (score = 1 + the
# number of thresholds strictly exceeded; equal values share a score),
# and the output is the segment cube: customers and exact revenue per
# (r, f, m) cell. Deliberately NOT a global ntile — customers scale
# with the corpus, and an unpartitioned ntile window is a single-task
# sort over all of them; the threshold form is one 1-row percentile
# agg broadcast back, fully distributed. F.percentile here equals
# DuckDB QUANTILE_CONT on these exact integer / exact 2-decimal inputs
# (the agg_percentiles-proven pattern), and recency scores on the
# NEGATED value so 5 = most recent with the same strict-greater rule.
# ---------------------------------------------------------------------------
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            exact_sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(
            F.broadcast(orders.select(F.max("o_orderdate").alias("anchor")))
        )
        .withColumn(
            "neg_recency", -F.datediff("anchor", "last_order").cast("long")
        )
        # feeds BOTH the threshold agg and the scoring pass — checkpoint
        # so the custkey rollup runs once (setsim discipline; 7 -> 4
        # exchanges audited)
        .localCheckpoint()
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    thresholds = per_cust.agg(
        *[F.percentile("neg_recency", q).alias(f"r{i}") for i, q in enumerate(qs)],
        *[F.percentile("frequency", q).alias(f"f{i}") for i, q in enumerate(qs)],
        *[F.percentile("monetary", q).alias(f"m{i}") for i, q in enumerate(qs)],
    )

    def score(col: str, pre: str) -> Column:
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(F.col(col) > F.col(f"{pre}{i}"), 1).otherwise(0)
        return s.cast("int")

    scored = per_cust.crossJoin(F.broadcast(thresholds)).select(
        score("neg_recency", "r").alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("monetary").alias("revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def _rfm_score_sql(col: str, pre: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col} > t.{pre}{i} THEN 1 ELSE 0 END)" for i in range(4)
    )
    return f"CAST(1 + {terms} AS INTEGER)"


ORDERS_RFM_SEGMENTS_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey,
           -DATEDIFF('day', MAX(o_orderdate),
                     (SELECT MAX(o_orderdate) FROM orders)) AS neg_recency,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           {sum_sql('o_totalprice')} AS monetary
    FROM orders GROUP BY o_custkey
), t AS (
    SELECT {', '.join(f"QUANTILE_CONT(neg_recency, {q}) AS r{i}" for i, q in enumerate([0.2, 0.4, 0.6, 0.8]))},
           {', '.join(f"QUANTILE_CONT(frequency, {q}) AS f{i}" for i, q in enumerate([0.2, 0.4, 0.6, 0.8]))},
           {', '.join(f"QUANTILE_CONT(monetary, {q}) AS m{i}" for i, q in enumerate([0.2, 0.4, 0.6, 0.8]))}
    FROM per_cust
), scored AS (
    SELECT {_rfm_score_sql('neg_recency', 'r')} AS r_score,
           {_rfm_score_sql('frequency', 'f')} AS f_score,
           {_rfm_score_sql('monetary', 'm')} AS m_score,
           monetary
    FROM per_cust CROSS JOIN t
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sum_sql('monetary')} AS revenue
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


# ---------------------------------------------------------------------------
# DQ VOLUME ANOMALY — pipeline freshness/volume monitoring: daily event
# counts vs the trailing 7-day median; a day deviating more than ±20%
# is flagged. Median over an odd trailing window is VALUE-PICKING
# (sorted element 4 of 7) and the deviation test is an integer
# cross-multiplication (|n − med|·10 > 2·med), so every decision is
# exact in both engines; days without a full trailing week are
# excluded (warm-up is not a verdict — and a nullable boolean would
# also hash differently across pandas bridges). Scale note: the
# window is over DAY-grain
# rows — calendar-bounded (decades ≈ 10⁴ rows), so the unpartitioned
# ordered window is deliberate and trivially single-task; the only
# corpus-sized work is the one groupBy(day) scan.
# ---------------------------------------------------------------------------
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.withColumn(
        "w", F.array_sort(F.collect_list("n_events").over(w))
    )
    med = F.element_at("w", 4).cast("long")
    return (
        win.filter(F.size("w") == 7)
        .select(
            "day",
            "n_events",
            med.alias("med7"),
            (F.abs(F.col("n_events") - med) * 10 > F.lit(2) * med).alias(
                "is_anomaly"
            ),
        )
        .orderBy("day")
    )


DQ_VOLUME_ANOMALY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
), win AS (
    SELECT day, n_events,
           list_sort(list(n_events) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS w
    FROM daily
)
SELECT day, n_events,
       CAST(w[4] AS BIGINT) AS med7,
       ABS(n_events - w[4]) * 10 > 2 * w[4] AS is_anomaly
FROM win
WHERE LEN(w) = 7
ORDER BY day
"""


# ---------------------------------------------------------------------------
# CCNET QUALITY BUCKETS — the CCNet head/middle/tail split: per
# source, rank documents by the LM quality score and cut into three
# equal buckets (1 = head/best). Downstream pipelines train on head,
# sample middle, drop tail. Composes lm_quality_score (the shared
# derivation above — one source of truth for both engines); the score
# doubles are bit-identical cross-engine, so the ntile ordering (score
# DESC, doc_id tie-break) agrees exactly. Docs with < 2 tokens have no
# bigram score and are excluded (documented contract). Per-bucket
# output: doc count + exact min/max score — no order-dependent float
# aggregation.
# ---------------------------------------------------------------------------
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = lm_quality_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.desc("avg_bigram_prob"), F.asc("doc_id")
    )
    b = docs.join(scored, "doc_id").withColumn("bucket", F.ntile(3).over(w))
    return (
        b.groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_bigram_prob").alias("min_score"),
            F.max("avg_bigram_prob").alias("max_score"),
        )
        .orderBy("source", "bucket")
    )


CCNET_QUALITY_BUCKETS_SQL = f"""
WITH scored AS (
    SELECT * FROM ({LM_QUALITY_SCORE_SQL})
), b AS (
    SELECT d.source, s.doc_id, s.avg_bigram_prob,
           CAST(NTILE(3) OVER (PARTITION BY d.source
                               ORDER BY s.avg_bigram_prob DESC, s.doc_id)
                AS INTEGER) AS bucket
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT source, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(avg_bigram_prob) AS min_score,
       MAX(avg_bigram_prob) AS max_score
FROM b
GROUP BY source, bucket
ORDER BY source, bucket
"""


# ---------------------------------------------------------------------------
# SCHEMA EVOLUTION READ — the drift case every long-lived dataset
# hits: files written before a column existed sit next to files that
# carry it. Fixture: even-key orders written with the v1 two-column
# schema, odd-key orders with v2 (+o_orderstatus); the read uses
# mergeSchema and the v1 rows surface the evolved column as NULL. The
# rollup groups on the evolved column, so the NULL group is exactly
# the v1 file population — which is what the oracle reconstructs with
# a parity CASE. At scale this is a footer-union operation: mergeSchema
# unions schemas at planning, never rewrites data files.
# ---------------------------------------------------------------------------
def _evolved_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    from pathlib import Path

    from .fixtures import atomic_fixture, sink_fixture_dest

    dest = sink_fixture_dest("orders_evolved", sf_dir)

    def build(root: Path) -> None:
        orders = load_table(spark, sf_dir, "orders")
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        v1.write.parquet(str(root / "batch1"))
        v2.write.parquet(str(root / "batch2"))

    return str(atomic_fixture(dest, build))


def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _evolved_orders_fixture(spark, sf_dir)
    back = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("o_totalprice").alias("total"),
    )


SINK_SCHEMA_EVOLUTION_SQL = f"""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
       COUNT(*) AS n,
       {sum_sql('o_totalprice')} AS total
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DATA-QUALITY CONSTRAINT REPORT — the declarative pre-flight a large
# pipeline runs before training on a snapshot (deequ-shape): hard
# constraints (uniqueness, not-null, FK integrity, domain ranges) plus
# profiling rules, all evaluated in as few passes as the semantics
# allow and emitted as one small report frame.
#
# Scale shape: every per-table block is ONE full scan folded into a
# single multi-aggregate (conditional sums share the pass — map-side
# partial, 2-value exchange); the FK check is the one join, a left
# anti against the orders keyset; the report union is rows-of-scalars.
# The profiling rule (l_discount > 0.05) deliberately fires on real
# rows so the counting path is evidenced with nonzero values, not a
# wall of zeros.
# ---------------------------------------------------------------------------
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def viol(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    o = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "dup_keys"
        ),
        viol(F.col("o_custkey").isNull()).alias("null_cust"),
        viol(F.col("o_totalprice") <= 0).alias("nonpos_price"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orders.o_orderkey_unique").alias("check_name"),
                    F.col("dup_keys").alias("n_violations"),
                ),
                F.struct(
                    F.lit("orders.o_custkey_not_null").alias("check_name"),
                    F.col("null_cust").alias("n_violations"),
                ),
                F.struct(
                    F.lit("orders.o_totalprice_positive").alias("check_name"),
                    F.col("nonpos_price").alias("n_violations"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.n_violations")

    li = lineitem.agg(
        viol(~F.col("l_discount").between(0.0, 1.0)).alias("disc_range"),
        viol(~F.col("l_quantity").between(1.0, 50.0)).alias("qty_range"),
        viol(F.col("l_discount") > 0.05).alias("disc_profile"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem.l_discount_in_0_1").alias("check_name"),
                    F.col("disc_range").alias("n_violations"),
                ),
                F.struct(
                    F.lit("lineitem.l_quantity_in_1_50").alias("check_name"),
                    F.col("qty_range").alias("n_violations"),
                ),
                F.struct(
                    F.lit("lineitem.l_discount_gt_0.05_profile").alias(
                        "check_name"
                    ),
                    F.col("disc_profile").alias("n_violations"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.n_violations")

    fk = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("lineitem.l_orderkey_fk_orders").alias("check_name"),
            "n_violations",
        )
    )

    return (
        o.unionByName(li)
        .unionByName(fk)
        .withColumn("passed", F.col("n_violations") == 0)
        .orderBy("check_name")
    )


DQ_CONSTRAINT_REPORT_SQL = """
WITH report AS (
    SELECT 'orders.o_orderkey_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.o_custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice_positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_discount_in_0_1',
           CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0)
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_quantity_in_1_50',
           CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0)
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_discount_gt_0.05_profile',
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_orderkey_fk_orders', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
)
SELECT check_name, n_violations, n_violations = 0 AS passed
FROM report
ORDER BY check_name
"""


# ---------------------------------------------------------------------------
# SQL Q13 — customer order-count distribution (TPC-H Q13 shape): LEFT
# join so zero-order customers survive with count 0, a priority filter
# INSIDE the join condition (not a WHERE — that would turn the outer
# join inner), then a second aggregation over the counts. At scale the
# first groupBy shuffles on c_custkey (same key as the join → AQE
# reuses the exchange); the distribution frame is ≤ max-orders-per-
# customer rows, trivially small.
# ---------------------------------------------------------------------------
def sql_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "4-NOT SPECIFIED"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_Q13_CUST_DISTRIBUTION_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# SQL Q17 — small-quantity revenue (TPC-H Q17 shape, grouped by brand
# so the evidence is multi-row). The correlated "below half this
# part's average quantity" subquery decorrelates into a per-part
# aggregate joined back to lineitem — in Spark that is explicit: one
# groupBy on l_partkey (the per-part frame scales with part, ~70×
# smaller than lineitem, so AQE broadcasts it back), one threshold
# compare, one final rollup. The threshold is avg = exact-int sum /
# count — a single IEEE division both engines perform on identical
# integers, so the < compare is deterministic.
# ---------------------------------------------------------------------------
def sql_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).cast("double")
            / 100
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        lineitem.join(per_part, lineitem.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            (exact_sum("l_extendedprice", scale=6) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


SQL_Q17_SMALL_QTY_REVENUE_SQL = f"""
WITH per_part AS (
    SELECT l_partkey AS t_partkey,
           ({sum_sql('l_quantity', scale=2)}) / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       ({sum_sql('l_extendedprice', scale=6)}) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem
JOIN per_part ON l_partkey = t_partkey
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < 0.5 * avg_qty
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# SQL Q18 — large-volume orders (TPC-H Q18 shape): the IN-subquery
# over a HAVING aggregate decorrelates to a per-order qty rollup
# re-joined to its own source. Spark shape: groupBy l_orderkey (the
# one fact-sized shuffle), filter sum > 200, join orders + customer.
# The qty threshold sits above the ~p90 of per-order totals at every
# sf (per-order sums are sf-invariant), so the survivor set is small
# but never empty — AQE broadcasts it into both enrichment joins.
# ---------------------------------------------------------------------------
_Q18_QTY = 200


def sql_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy(F.col("l_orderkey").alias("k_orderkey"))
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("q100")
        )
        .filter(F.col("q100") > _Q18_QTY * 100)
        .select("k_orderkey", (F.col("q100").cast("double") / 100).alias("total_qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == F.col("k_orderkey"))
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


SQL_Q18_LARGE_ORDERS_SQL = f"""
WITH big AS (
    SELECT l_orderkey AS k_orderkey,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS q100
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > {_Q18_QTY * 100}
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(q100 AS DOUBLE) / 100 AS total_qty
FROM orders
JOIN big ON o_orderkey = k_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
"""


# ---------------------------------------------------------------------------
# SQL Q21 — suppliers who alone shipped late (TPC-H Q21 shape).
# The original's EXISTS / NOT-EXISTS pair over the same fact table
# decorrelates to per-(order, supplier) late flags plus per-order
# counts joined back — zero subqueries, two shuffles on l_orderkey
# (same key → AQE exchange reuse), and the supplier dim joins
# broadcast. "Late" is shipped > 60 days after the order date (this
# schema carries no receipt/commit dates; the correlation structure —
# multi-supplier order, exactly one late supplier — is the point).
# ---------------------------------------------------------------------------
def sql_q21_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("late"))
    )
    per_order = per.groupBy(F.col("l_orderkey").alias("k_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    return (
        per.join(per_order, per.l_orderkey == F.col("k_orderkey"))
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supplier), per.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


SQL_Q21_LATE_SUPPLIER_SQL = """
WITH per AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_orderkey, l_suppkey
), per_order AS (
    SELECT l_orderkey AS k_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
    FROM per GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per
JOIN per_order ON l_orderkey = k_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


# ---------------------------------------------------------------------------
# SQL Q22 — dormant high-balance customers (TPC-H Q22 shape): scalar
# average subquery + NOT EXISTS anti-join. Data-relative dormancy
# cutoff (no orders in the last 24 months of the actual order span —
# a fixed date would silently go empty when the driver regenerates
# testdata). The global positive-balance average is an exact
# scaled-integer sum ÷ count (one IEEE division on identical integers
# in both engines), computed as a 1-row frame cross-broadcast into the
# filter — the Spark analogue of a scalar subquery. Grouped by nation
# key (this schema has no phone prefix).
# ---------------------------------------------------------------------------
def sql_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(
        F.add_months(F.max("o_orderdate"), -24).alias("cutoff")
    )
    pos_avg = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).cast("double")
            / 100
            / F.count(F.lit(1))
        ).alias("pos_avg")
    )
    recent = orders.join(F.broadcast(cutoff)).filter(
        F.col("o_orderdate") >= F.col("cutoff")
    )
    return (
        customer.join(F.broadcast(pos_avg))
        .filter(F.col("c_acctbal") > F.col("pos_avg"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", scale=2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


SQL_Q22_DORMANT_CUSTOMERS_SQL = f"""
WITH cutoff AS (
    SELECT MAX(o_orderdate) - INTERVAL 24 MONTH AS cutoff FROM orders
), pos_avg AS (
    SELECT ({sum_sql('c_acctbal', scale=2)}) / COUNT(*) AS pos_avg
    FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       {sum_sql('c_acctbal', scale=2)} AS totacctbal
FROM customer, pos_avg
WHERE c_acctbal > pos_avg
  AND NOT EXISTS (
      SELECT 1 FROM orders, cutoff
      WHERE o_custkey = c_custkey AND o_orderdate >= cutoff
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


QUERIES: dict[str, QuerySpec] = {
    "sql_q13_cust_distribution": QuerySpec(
        sql_q13_cust_distribution, SQL_Q13_CUST_DISTRIBUTION_SQL,
        tags=("J4", "A2", "A1"),
        doc="TPC-H Q13 shape: order-count distribution via filtered LEFT join",
    ),
    "sql_q17_small_qty_revenue": QuerySpec(
        sql_q17_small_qty_revenue, SQL_Q17_SMALL_QTY_REVENUE_SQL,
        tags=("J1", "J2", "A2"),
        doc="TPC-H Q17 shape: decorrelated per-part avg-quantity threshold",
    ),
    "sql_q18_large_orders": QuerySpec(
        sql_q18_large_orders, SQL_Q18_LARGE_ORDERS_SQL,
        tags=("J1", "A2", "O1"),
        doc="TPC-H Q18 shape: HAVING-subquery large-volume orders",
    ),
    "sql_q21_late_supplier": QuerySpec(
        sql_q21_late_supplier, SQL_Q21_LATE_SUPPLIER_SQL,
        tags=("J1", "J2", "A2", "F2"),
        doc="TPC-H Q21 shape: decorrelated EXISTS/NOT-EXISTS late-supplier",
    ),
    "sql_q22_dormant_customers": QuerySpec(
        sql_q22_dormant_customers, SQL_Q22_DORMANT_CUSTOMERS_SQL,
        tags=("J6", "A2", "P5"),
        doc="TPC-H Q22 shape: scalar-subquery threshold + anti-join dormancy",
    ),
    "sink_schema_evolution": QuerySpec(
        sink_schema_evolution, SINK_SCHEMA_EVOLUTION_SQL,
        tags=("S6", "A2", "U1"),
        doc="mergeSchema read over pre/post-evolution files; NULL group "
        "== the pre-evolution population, oracle-reconstructed",
    ),
    "dq_constraint_report": QuerySpec(
        dq_constraint_report, DQ_CONSTRAINT_REPORT_SQL,
        tags=("A1", "A2", "A3", "J6", "U1"),
        doc="deequ-shape data-quality report: uniqueness/null/range/FK "
        "checks, one multi-aggregate pass per table",
    ),
    "orders_rfm_segments": QuerySpec(
        orders_rfm_segments, ORDERS_RFM_SEGMENTS_SQL,
        tags=("A2", "W1", "F2"),
        doc="RFM customer segmentation cube: data-derived recency "
        "anchor, deterministic quintile cuts, exact scaled-integer "
        "revenue at both levels",
    ),
    "dq_volume_anomaly": QuerySpec(
        dq_volume_anomaly, DQ_VOLUME_ANOMALY_SQL, tags=("A2", "W3", "F2"),
        doc="daily-volume anomaly monitor: trailing 7-day value-picked "
        "median + integer cross-multiplied deviation gate; NULL during "
        "warm-up; day-grain window is calendar-bounded by design",
    ),
    "ccnet_quality_buckets": QuerySpec(
        ccnet_quality_buckets, CCNET_QUALITY_BUCKETS_SQL,
        tags=("L4", "A2", "W1"),
        doc="CCNet head/middle/tail split per source over the LM "
        "quality score (shared lm_quality_score derivation); exact "
        "ntile cut, min/max-only float aggregation",
    ),
    "lm_quality_score": QuerySpec(
        lm_quality_score, LM_QUALITY_SCORE_SQL, tags=("L4", "A2", "W3", "J1"),
        doc="corpus-trained bigram-LM mean-probability document score",
    ),
    "lm_target_score": QuerySpec(
        lm_target_score, LM_TARGET_SCORE_SQL,
        tags=("L4", "A2", "J2", "J4"),
        doc="CCNet-shape TARGET-trained LM filter: add-1-smoothed "
        "bigram LM trained on the lang='en' split scores the whole "
        "corpus by target-likeness (smoothing floors unseen bigrams "
        "at 1/(c_u+V)); per-bigram ROUND(1e9 * one IEEE division of "
        "exact integers), order-free sum; planted disjoint-vocabulary "
        "discrimination test (driver langs share one vocabulary - "
        "documented)",
    ),
    "lm_excess_select": QuerySpec(
        lm_excess_select, LM_EXCESS_SELECT_SQL,
        tags=("L4", "A2", "W4", "J4"),
        doc="RHO-1 / CCNet-importance excess-loss data selection: "
        "documents ranked by the INTEGER difference between their "
        "target-trained and corpus-trained bigram-LM scores (same "
        "tokenization, same per-occurrence 1e9 scaling, so the "
        "statistic is an exact integer sum - no float-subtraction "
        "seam); CCNet ntile(3) head cut per source; one occurrence "
        "pass feeds both models, no broadcast hints on the "
        "corpus-content-sized model tables",
    ),
    "sql_q7_nation_volume": QuerySpec(
        sql_q7_nation_volume, SQL_Q7_NATION_VOLUME_SQL,
        tags=("J1", "J2", "J3", "A2", "F2"),
        doc="TPC-H Q7 shape: two-nation shipping volume by year",
    ),
    "sql_q14_promo_share": QuerySpec(
        sql_q14_promo_share, SQL_Q14_PROMO_SHARE_SQL,
        tags=("J2", "A2", "A6", "F2"),
        doc="TPC-H Q14 shape: promo revenue share by ship month",
    ),
    "sql_q19_bracket_revenue": QuerySpec(
        sql_q19_bracket_revenue, SQL_Q19_BRACKET_REVENUE_SQL,
        tags=("J2", "P5", "A2"),
        doc="TPC-H Q19 shape: disjunctive bracket predicate revenue",
    ),
    "pii_redact": QuerySpec(
        pii_redact, PII_REDACT_SQL, tags=("L4", "F1", "A2"),
        doc="PII scrub: regex email/phone redaction + per-source audit",
    ),
}
