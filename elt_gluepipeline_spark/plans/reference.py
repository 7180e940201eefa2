"""Reference-parity declared queries (SURVEY.md §2.10 Q1-Q12), each a
Spark DataFrame plan + a DuckDB oracle twin over the TPC-H-ish
testdata.

Hash-parity conventions (the driver compares row-count + schema +
order-insensitive value-hash):
- money aggregates use exact DECIMAL(18,4) sums (functions/deterministic)
  so values are bit-stable across engines/partitionings;
- dates/timestamps in outputs are formatted to strings on BOTH sides;
- count-like columns are cast to long/BIGINT on both sides;
- percentiles use exact interpolation (Spark ``percentile`` ↔ DuckDB
  ``quantile_cont``) rounded to 4dp before use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (clean_item_name, drop_test_rows,
                                  first_match_classify)
from ..functions.deterministic import (davg, davg_sql, dec, dsum, dsum_sql,
                                       rnd0, rnd0_sql)
from ..functions.keys import surrogate_key, surrogate_key_sql
from ..operators.aggregates import grouping_rollup
from ..operators.quality import extract_violations, severity_from_thresholds
from ..operators.windows import dedupe_keep_latest
from ..sources.readers import (ntz_micros, ntz_to_instant, read_table,
                               read_table_stream)
from . import QuerySpec

DATE_FMT = "yyyy-MM-dd"
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
SQL_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _d(col: str) -> F.Column:
    """timestamp → date column."""
    return F.col(col).cast("date")


# --------------------------------------------------------------------------
# Q1 — line revenue projection (F6 coalesce arithmetic; go-metric-elt.py:57-61)
# --------------------------------------------------------------------------

def q01_line_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    revenue = (F.coalesce(F.col("l_extendedprice"), F.lit(0.0))
               * (F.lit(1.0) - F.coalesce(F.col("l_discount"), F.lit(0.0))))
    return li.select("l_orderkey", "l_linenumber", revenue.alias("revenue"))


Q01_SQL = """
SELECT l_orderkey, l_linenumber,
       COALESCE(l_extendedprice, 0.0) * (1.0 - COALESCE(l_discount, 0.0)) AS revenue
FROM lineitem
"""


# --------------------------------------------------------------------------
# Q2 — CLV multi-key hash aggregation (A1; go-metric-elt.py:66-74)
# --------------------------------------------------------------------------

def q02_clv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    return (o.groupBy("o_custkey", "o_orderstatus")
             .agg(dsum("o_totalprice").alias("total_revenue"),
                  F.count("o_orderkey").alias("total_orders"),
                  F.date_format(F.min(_d("o_orderdate")), DATE_FMT).alias("first_order"),
                  F.date_format(F.max(_d("o_orderdate")), DATE_FMT).alias("last_order"),
                  davg("o_totalprice").alias("avg_order_value")))


Q02_SQL = f"""
SELECT o_custkey, o_orderstatus,
       {dsum_sql('o_totalprice')} AS total_revenue,
       COUNT(o_orderkey) AS total_orders,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_order,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_order,
       {davg_sql('o_totalprice')} AS avg_order_value
FROM orders
WHERE o_custkey IS NOT NULL
GROUP BY o_custkey, o_orderstatus
"""


# --------------------------------------------------------------------------
# Q3 — CLV value tiers via grouped percentiles (A3 single-pass fix + J3 + F5;
# go-metric-elt.py:83-97). One percentile aggregation replaces the
# reference's per-restaurant approxQuantile driver loop (N+1 jobs → 1).
# --------------------------------------------------------------------------

def q03_clv_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    clv = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("total_revenue"))
    j = clv.join(cust, clv.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_mktsegment", "total_revenue")
    pct = (j.groupBy("c_mktsegment")
            .agg(F.round(F.expr("percentile(total_revenue, 0.2)"), 4).alias("p20"),
                 F.round(F.expr("percentile(total_revenue, 0.8)"), 4).alias("p80")))
    tier = (F.when(F.col("total_revenue") >= F.col("p80"), "High")
             .when(F.col("total_revenue") <= F.col("p20"), "Low")
             .otherwise("Medium"))
    return (j.join(F.broadcast(pct), "c_mktsegment")
             .select("c_custkey", "c_mktsegment", "total_revenue",
                     tier.alias("value_tier")))


Q03_SQL = f"""
WITH clv AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS total_revenue
  FROM orders GROUP BY o_custkey
), j AS (
  SELECT c.c_custkey, c.c_mktsegment, clv.total_revenue
  FROM clv JOIN customer c ON clv.o_custkey = c.c_custkey
), pct AS (
  SELECT c_mktsegment,
         ROUND(quantile_cont(total_revenue, 0.2), 4) AS p20,
         ROUND(quantile_cont(total_revenue, 0.8), 4) AS p80
  FROM j GROUP BY c_mktsegment
)
SELECT j.c_custkey, j.c_mktsegment, j.total_revenue,
       CASE WHEN j.total_revenue >= pct.p80 THEN 'High'
            WHEN j.total_revenue <= pct.p20 THEN 'Low'
            ELSE 'Medium' END AS value_tier
FROM j JOIN pct USING (c_mktsegment)
"""


# --------------------------------------------------------------------------
# Q4 — RFM segmentation (A2 snapshot scalar + F5 tags; go-metric-elt.py:104-123)
# Snapshot is a broadcast cross-join of a 1-row aggregate — stays
# distributed, no .collect() round-trip.
# --------------------------------------------------------------------------

def q04_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", _d("o_orderdate").alias("d"), "o_totalprice")
    snap = o.agg(F.max("d").alias("snap"))
    rfm = (o.groupBy("o_custkey")
            .agg(F.max("d").alias("last_order"),
                 F.count(F.lit(1)).alias("frequency"),
                 dsum("o_totalprice").alias("monetary"))
            .crossJoin(F.broadcast(snap))
            .withColumn("recency", F.datediff(F.col("snap"), F.col("last_order")).cast("long")))
    segment = (F.when((F.col("recency") <= 90) & (F.col("frequency") >= 10), "VIP")
                .when(F.col("recency") <= 90, "Active")
                .when(F.col("recency") > 730, "Churned")
                .otherwise("At Risk"))
    return rfm.select("o_custkey", "recency", "frequency", "monetary",
                      segment.alias("segment"))


Q04_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
), snap AS (SELECT MAX(d) AS snap FROM o),
rfm AS (
  SELECT o_custkey, MAX(d) AS last_order, COUNT(*) AS frequency,
         {dsum_sql('o_totalprice')} AS monetary
  FROM o GROUP BY o_custkey
)
SELECT o_custkey,
       date_diff('day', last_order, snap) AS recency,
       frequency, monetary,
       CASE WHEN date_diff('day', last_order, snap) <= 90 AND frequency >= 10 THEN 'VIP'
            WHEN date_diff('day', last_order, snap) <= 90 THEN 'Active'
            WHEN date_diff('day', last_order, snap) > 730 THEN 'Churned'
            ELSE 'At Risk' END AS segment
FROM rfm CROSS JOIN snap
"""


# --------------------------------------------------------------------------
# Q5 — customer profile: per-entity lag gaps + activity tags (W2/W3 + F10 +
# F5; go-metric-elt.py:130-159)
# --------------------------------------------------------------------------

def q05_customer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", _d("o_orderdate").alias("d"), "o_orderkey")
    # deterministic tie-break: orderkey within equal dates
    w = Window.partitionBy("o_custkey").orderBy(F.col("d"), F.col("o_orderkey"))
    gaps = (o.withColumn("prev_d", F.lag("d").over(w))
             .withColumn("gap", F.datediff(F.col("d"), F.col("prev_d"))))
    snap = o.agg(F.max("d").alias("snap"))
    prof = (gaps.groupBy("o_custkey")
                .agg(F.max("d").alias("last_order"),
                     F.count(F.lit(1)).alias("n_orders"),
                     F.avg("gap").alias("avg_gap"),
                     F.max("gap").cast("long").alias("max_gap"))
                .crossJoin(F.broadcast(snap))
                .withColumn("days_since_last",
                            F.datediff(F.col("snap"), F.col("last_order")).cast("long")))
    activity = (F.when(F.col("n_orders") == 1, "one_time")
                 .when(F.col("days_since_last") <= 45, "active")
                 .when(F.col("days_since_last") <= F.col("avg_gap") * 1.5, "regular")
                 .otherwise("dormant"))
    return prof.select("o_custkey", "n_orders",
                       F.date_format("last_order", DATE_FMT).alias("last_order"),
                       "days_since_last", "avg_gap", "max_gap",
                       activity.alias("activity"))


Q05_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
), gaps AS (
  SELECT o_custkey, d,
         date_diff('day', LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey), d) AS gap
  FROM o
), snap AS (SELECT MAX(d) AS snap FROM o),
prof AS (
  SELECT o_custkey, MAX(d) AS last_order, COUNT(*) AS n_orders,
         AVG(gap) AS avg_gap, CAST(MAX(gap) AS BIGINT) AS max_gap
  FROM gaps GROUP BY o_custkey
)
SELECT o_custkey, n_orders,
       CAST(last_order AS VARCHAR) AS last_order,
       date_diff('day', last_order, snap) AS days_since_last,
       avg_gap, max_gap,
       CASE WHEN n_orders = 1 THEN 'one_time'
            WHEN date_diff('day', last_order, snap) <= 45 THEN 'active'
            WHEN date_diff('day', last_order, snap) <= avg_gap * 1.5 THEN 'regular'
            ELSE 'dormant' END AS activity
FROM prof CROSS JOIN snap
"""


# --------------------------------------------------------------------------
# Q6 — sales trends at 4 grains (A4; go-metric-elt.py:168-204). Bucket
# starts via date_trunc (fixes the reference's ISO-week year-boundary
# reconstruction, bug B10).
# --------------------------------------------------------------------------

def _trend(spark: SparkSession, sf_dir: str, grain: str, keyed: bool) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    bucket = F.date_format(F.date_trunc(grain, F.col("o_orderdate")).cast("date"),
                           DATE_FMT).alias("bucket_start")
    keys = [bucket] + ([F.col("o_orderpriority")] if keyed else [])
    return (o.groupBy(*keys)
             .agg(dsum("o_totalprice").alias("revenue"),
                  F.count(F.lit(1)).alias("n_orders")))


def q06_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trend(spark, sf_dir, "day", keyed=True)


def q06_trend_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trend(spark, sf_dir, "week", keyed=False)


def q06_trend_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trend(spark, sf_dir, "month", keyed=False)


def q06_trend_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    bucket = F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT).alias("bucket_start")
    return (ev.groupBy(bucket, F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   dsum("value").alias("total_value")))


def _trend_sql(grain: str, keyed: bool) -> str:
    key = ", o_orderpriority" if keyed else ""
    return f"""
SELECT CAST(CAST(date_trunc('{grain}', o_orderdate) AS DATE) AS VARCHAR) AS bucket_start{key},
       {dsum_sql('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY bucket_start{key}
"""


Q06_HOURLY_SQL = f"""
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '{SQL_TS_FMT}') AS bucket_start, event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY bucket_start, event_type
"""


# --------------------------------------------------------------------------
# Q7 — loyalty-impact two-level aggregation (A5; go-metric-elt.py:214-232)
# --------------------------------------------------------------------------

def q07_loyalty_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    inner = (o.groupBy("o_orderpriority", "o_custkey")
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   dsum("o_totalprice").alias("revenue")))
    return (inner.groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("n_customers"),
                      davg("n_orders").alias("avg_orders_per_customer"),
                      davg("revenue").alias("avg_revenue_per_customer"),
                      dsum("revenue").alias("total_revenue")))


Q07_SQL = f"""
WITH inner_agg AS (
  SELECT o_orderpriority, o_custkey, COUNT(*) AS n_orders,
         {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY o_orderpriority, o_custkey
)
SELECT o_orderpriority, COUNT(*) AS n_customers,
       {davg_sql('n_orders')} AS avg_orders_per_customer,
       {davg_sql('revenue')} AS avg_revenue_per_customer,
       {dsum_sql('revenue')} AS total_revenue
FROM inner_agg GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q8 — top locations: distinct-counting agg + ratio + rank (A6 + W4;
# go-metric-elt.py:237-249). nation broadcasts; the global rank window
# runs on the 25-row post-aggregation table (scale-safe per SURVEY §7.4).
# --------------------------------------------------------------------------

def q08_top_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (o.join(cust, o.o_custkey == cust.c_custkey)
          .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    # two-level instead of COUNT(DISTINCT)-with-sums: mixed
    # distinct/plain aggregates plan as an Expand duplicating every
    # joined row; pre-aggregating per (nation, day) gets identical
    # values (exact decimal partial sums) without the duplication —
    # and the (nation, day) grain is tiny, so level 2 is nearly free.
    lvl1 = (j.groupBy("n_name", _d("o_orderdate").alias("_day"))
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.sum(dec("o_totalprice")).alias("_rev")))
    agg = (lvl1.groupBy("n_name")
               .agg(F.count("_day").alias("active_days"),
                    F.sum("_n").alias("total_orders"),
                    F.sum("_rev").cast("double").alias("revenue"))
               .withColumn("orders_per_day",
                           F.col("total_orders") / F.col("active_days")))
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name"))
    return agg.withColumn("rank", F.row_number().over(w).cast("long"))


Q08_SQL = f"""
WITH agg AS (
  SELECT n.n_name,
         COUNT(DISTINCT CAST(o.o_orderdate AS DATE)) AS active_days,
         COUNT(*) AS total_orders,
         {dsum_sql('o.o_totalprice')} AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name, active_days, total_orders, revenue,
       total_orders / active_days AS orders_per_day,
       ROW_NUMBER() OVER (ORDER BY revenue DESC, n_name) AS rank
FROM agg
"""


# --------------------------------------------------------------------------
# Q36 — q08's 100 TB form (SURVEY.md §2.4 A6 note + W4 fix): HLL-sketch
# distinct counts (mergeable, memory-bounded per group — no exact
# distinct expansion shuffle) and top-N via orderBy+limit instead of an
# unpartitioned rank window. Sketch estimates are engine-specific →
# rows-only check; the plan shape is the point.
# --------------------------------------------------------------------------

def q36_top_locations_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (o.join(cust, o.o_custkey == cust.c_custkey)
          .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey))
    agg = (j.groupBy("n_name")
            .agg(F.approx_count_distinct(_d("o_orderdate"), rsd=0.01)
                  .alias("active_days"),
                 F.count(F.lit(1)).alias("total_orders"),
                 dsum("o_totalprice").alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("n_name"))
               .limit(10))


# --------------------------------------------------------------------------
# Q37 — calendar-dimension enrichment (J2 + the date_dim relation,
# generated in-engine instead of hand-maintained: dataset/date_dim.csv,
# go-quality-elt.py:288-291). Dim side is a few KB → always broadcasts.
# --------------------------------------------------------------------------

def q37_calendar_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.dimensions import date_dimension
    o = read_table(spark, sf_dir, "orders")
    dim = date_dimension(spark, "1995-01-01", "2001-12-31")
    j = o.withColumn("date", _d("o_orderdate")).join(F.broadcast(dim), "date")
    return (j.groupBy("year", "is_weekend")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  dsum("o_totalprice").alias("revenue"),
                  F.countDistinct("date").cast("long").alias("n_days")))


Q37_SQL = f"""
WITH dim AS (
  SELECT CAST(d AS DATE) AS date,
         CAST(year(d) AS INTEGER) AS year,
         isodow(d) >= 6 AS is_weekend
  FROM generate_series(DATE '1995-01-01', DATE '2001-12-31',
                       INTERVAL 1 DAY) AS t(d)
)
SELECT dim.year, dim.is_weekend, COUNT(*) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS revenue,
       COUNT(DISTINCT dim.date) AS n_days
FROM orders o JOIN dim ON CAST(o.o_orderdate AS DATE) = dim.date
GROUP BY dim.year, dim.is_weekend
"""


# --------------------------------------------------------------------------
# Q9 — discount effectiveness flag-split agg (A7; go-metric-elt.py:254-263)
# --------------------------------------------------------------------------

def q09_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem", spread=True)
    net = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Two-level aggregation instead of COUNT(DISTINCT)-alongside-sums:
    # a mixed distinct/non-distinct agg plans as an Expand that doubles
    # every scanned row. Pre-aggregating per (flag, orderkey) computes
    # the same values (decimal sums are exact, so sum-of-partial-sums
    # is bit-identical) with one shuffle of the distinct pairs and no
    # row duplication — the term that dominates at 100 TB.
    lvl1 = (li.withColumn("is_discounted", F.col("l_discount") > 0)
              .groupBy("is_discounted", "l_orderkey")
              .agg(F.count(F.lit(1)).alias("_n"),
                   F.sum(dec("l_extendedprice")).alias("_g"),
                   F.sum(dec(net)).alias("_nv"),
                   F.sum(dec("l_discount")).alias("_d"),
                   F.count("l_discount").alias("_dn")))
    return (lvl1.groupBy("is_discounted")
                .agg(F.sum("_n").alias("n_lines"),
                     F.count("l_orderkey").alias("n_orders"),
                     F.sum("_g").cast("double").alias("gross_revenue"),
                     F.sum("_nv").cast("double").alias("net_revenue"),
                     (F.sum("_d").cast("double") / F.sum("_dn"))
                     .cast("double").alias("avg_discount")))


Q09_SQL = f"""
SELECT l_discount > 0 AS is_discounted,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       {dsum_sql('l_extendedprice')} AS gross_revenue,
       {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS net_revenue,
       {davg_sql('l_discount')} AS avg_discount
FROM lineitem
GROUP BY is_discounted
"""


# --------------------------------------------------------------------------
# Q10 — quality gate: data-driven rule extracts + clean/quarantine split
# (P5/P6/P9 + B6-fixed semantics; go-quality-elt.py:108-136). Output is
# the per-rule-combination audit table.
# --------------------------------------------------------------------------

# SQL-string predicates (not Column objects): building Columns at
# module import requires a live SparkContext in pyspark 4, which would
# make `import plans` / registry() fail in a bare interpreter.
# extract_violations coerces strings with F.expr at plan-build time.
QUALITY_RULES = [
    ("price_null", "l_extendedprice IS NULL"),
    ("price_nonpos", "l_extendedprice <= 0"),
    ("price_high", "l_extendedprice > 100000"),
    ("qty_null", "l_quantity IS NULL"),
    ("qty_zero", "l_quantity = 0"),
    ("qty_high", "l_quantity >= 48"),
    ("disc_out", "l_discount < 0 OR l_discount > 0.09"),
]


def q10_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    tagged = extract_violations(li, QUALITY_RULES)
    return (tagged.withColumn("violated", F.array_join("violated", ","))
                  .groupBy("violated")
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       dsum(F.coalesce(F.col("l_extendedprice"), F.lit(0.0)))
                       .alias("revenue")))


Q10_SQL = f"""
SELECT concat_ws(',',
         CASE WHEN l_extendedprice IS NULL THEN 'price_null' END,
         CASE WHEN l_extendedprice <= 0 THEN 'price_nonpos' END,
         CASE WHEN l_extendedprice > 100000 THEN 'price_high' END,
         CASE WHEN l_quantity IS NULL THEN 'qty_null' END,
         CASE WHEN l_quantity = 0 THEN 'qty_zero' END,
         CASE WHEN l_quantity >= 48 THEN 'qty_high' END,
         CASE WHEN l_discount < 0 OR l_discount > 0.09 THEN 'disc_out' END
       ) AS violated,
       COUNT(*) AS n_rows,
       {dsum_sql('COALESCE(l_extendedprice, 0.0)')} AS revenue
FROM lineitem
GROUP BY violated
"""


# --------------------------------------------------------------------------
# Q11 — transform/clean: regex stack as native expressions (U1-U4 + F1-F5 +
# P7; go-transform-elt.py:204-338). First-match classification order is
# pinned by the rule list.
# --------------------------------------------------------------------------

CATEGORY_RULES = [
    ("promo", "promotional"),
    ("econom", "value"),
    ("small|medium", "mid_range"),
    ("large", "premium"),
]

SIZE_PATTERN = r"\b(small|big|large|mini)\b"


def q11_transform_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    category = first_match_classify(F.col("p_type"), CATEGORY_RULES,
                                    default=F.lower(F.col("p_type")))
    name_clean = clean_item_name(F.col("p_name"))
    size_token = F.regexp_extract(F.col("p_name"), SIZE_PATTERN, 0)
    return (p.filter(drop_test_rows([F.col("p_name")]))
             .select("p_partkey", name_clean.alias("name_clean"),
                     category.alias("category"), size_token.alias("size_token")))


Q11_SQL = r"""
SELECT p_partkey,
       trim(regexp_replace(
         regexp_replace(
           lower(regexp_replace(regexp_replace(p_name, '[^a-zA-Z0-9|&* ]', ' ', 'g'),
                                '\*', '', 'g')),
           '\bthe\b', ' ', 'g'),
         '\s+', ' ', 'g')) AS name_clean,
       CASE WHEN regexp_matches(lower(p_type), 'promo') THEN 'promotional'
            WHEN regexp_matches(lower(p_type), 'econom') THEN 'value'
            WHEN regexp_matches(lower(p_type), 'small|medium') THEN 'mid_range'
            WHEN regexp_matches(lower(p_type), 'large') THEN 'premium'
            ELSE lower(p_type) END AS category,
       regexp_extract(p_name, '\b(small|big|large|mini)\b', 0) AS size_token
FROM part
WHERE NOT COALESCE(regexp_matches(p_name, '(?i)test'), FALSE)
"""


# --------------------------------------------------------------------------
# Q12 — incremental dedupe-keep-latest (W1/T3;
# go-incremental-ingest-elt.py:200-213). Deterministic tie-break on the
# unique event_id.
# --------------------------------------------------------------------------

def q12_incr_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    latest = dedupe_keep_latest(ev, ["user_id", "event_type"],
                                [F.col("ts").desc()],
                                [F.col("event_id").desc()])
    return latest.select("user_id", "event_type", "event_id",
                         F.date_format("ts", TS_FMT).alias("ts"), "value")


Q12_SQL = f"""
SELECT user_id, event_type, event_id,
       strftime(CAST(ts AS TIMESTAMP), '{SQL_TS_FMT}') AS ts, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS BIGINT), event_type
                               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Q16 — grouped-IQR outlier flagger (A10; edafinal.ipynb cells 58-60,123).
# One percentile pass + broadcast join-back, no driver loop.
# --------------------------------------------------------------------------

def q16_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    fences = (li.groupBy("l_returnflag")
                .agg(F.expr("percentile(l_extendedprice, array(0.25, 0.75))")
                      .alias("_qs"))
                .select("l_returnflag",
                        F.round(F.element_at("_qs", 1), 4).alias("q1"),
                        F.round(F.element_at("_qs", 2), 4).alias("q3")))
    fenced = (li.join(F.broadcast(fences), "l_returnflag")
                .withColumn("iqr", F.col("q3") - F.col("q1"))
                .withColumn("is_outlier",
                            (F.col("l_extendedprice") < F.col("q1") - 1.5 * F.col("iqr"))
                            | (F.col("l_extendedprice") > F.col("q3") + 1.5 * F.col("iqr"))))
    return (fenced.groupBy("l_returnflag")
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
                       dsum(F.when(F.col("is_outlier"), F.col("l_extendedprice"))
                            .otherwise(F.lit(0.0))).alias("outlier_revenue")))


Q16_SQL = f"""
WITH fences AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
         ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3
  FROM lineitem GROUP BY l_returnflag
), fenced AS (
  SELECT li.l_returnflag, li.l_extendedprice,
         (li.l_extendedprice < f.q1 - 1.5 * (f.q3 - f.q1)
          OR li.l_extendedprice > f.q3 + 1.5 * (f.q3 - f.q1)) AS is_outlier
  FROM lineitem li JOIN fences f USING (l_returnflag)
)
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {dsum_sql("CASE WHEN is_outlier THEN l_extendedprice ELSE 0.0 END")} AS outlier_revenue
FROM fenced GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Q23 — JSON property extraction (F-family rider: get_json_object surface)
# --------------------------------------------------------------------------

def q23_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.withColumn("k", k)
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum("k").alias("k_sum"),
                   F.avg("k").alias("k_avg")))


Q23_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_avg
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Q29 — STREAMING twin of the hourly rollup (SURVEY.md §2.8: T1/T5/A4 as
# Structured Streaming). The whole plan runs through the streaming runtime
# (file source → watermark → tumbling-window state → AvailableNow drain);
# the result equals the batch rollup, so the same oracle applies.
# --------------------------------------------------------------------------

def q29_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    # No withWatermark here: complete-mode output never evicts window
    # state, and watermarks require instant TIMESTAMP while this column
    # is deliberately NTZ (session-timezone-independent output). An
    # append-mode rollup carries a watermark instead.
    src = read_table_stream(spark, sf_dir, "events")
    agg = (src.groupBy(F.window("ts", "1 hour").alias("bucket"),
                       F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   dsum("value").alias("total_value"))
              .select(F.date_format("bucket.start", TS_FMT).alias("bucket_start"),
                      "event_type", "n_events", "total_value"))
    return run_rollup_available_now(agg, state_partitions=4)


# --------------------------------------------------------------------------
# Q117 — APPEND-mode streaming rollup (certifies EVICTION semantics,
# not just the complete-mode bridge). Unlike q29, this plan carries a
# real watermark and drains in append mode: a window row is emitted —
# and its state evicted — only when the watermark passes the window
# end. With an AvailableNow drain the
# final watermark is max(event time) − lateness (the trailing no-data
# batch finalizes it), so the emitted set is exactly the hourly
# windows whose END is ≤ max(ts) − lateness — oracle-derivable, and
# windows near the stream head stay open/unemitted BY DESIGN (state
# still held). Lateness is a deliberately odd 611 s so the threshold
# can't coincide with an hour boundary and make the ≤/< emission edge
# data-dependent. bucket_start emits as unix_micros (the watermark
# needs instant timestamps; formatted output would be tz-dependent).
# --------------------------------------------------------------------------

_Q117_LATENESS_S = 611


def q117_stream_append_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    src = read_table_stream(spark, sf_dir, "events")
    inst = (src.withColumn("_ts", ntz_to_instant("ts"))
               .withWatermark("_ts", f"{_Q117_LATENESS_S} seconds"))
    agg = (inst.groupBy(F.window("_ts", "1 hour").alias("bucket"),
                        F.col("event_type"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    dsum("value").alias("total_value"))
               .select(F.unix_micros("bucket.start").alias("bucket_start_us"),
                       "event_type", "n_events", "total_value"))
    return run_rollup_available_now(agg, output_mode="append",
                                    state_partitions=4)


Q117_SQL = f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
agg AS (
  SELECT date_trunc('hour', ts) AS b, event_type,
         COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
  FROM events GROUP BY 1, 2
)
SELECT epoch_us(b) AS bucket_start_us, event_type, n_events, total_value
FROM agg, mx
WHERE b + INTERVAL 1 HOUR <= m - INTERVAL {_Q117_LATENESS_S} SECOND
"""


# --------------------------------------------------------------------------
# Q26 — hierarchical trend via ROLLUP grouping sets (SURVEY.md §2.4 note:
# the reference's 4 separate trend passes re-expressed as ONE grouping-sets
# aggregation; go-metric-elt.py:168-204)
# --------------------------------------------------------------------------

def q26_trend_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    d = o.select(F.year("o_orderdate").cast("int").alias("year"),
                 F.month("o_orderdate").cast("int").alias("month"),
                 "o_totalprice")
    return grouping_rollup(
        d, ["year", "month"],
        [dsum("o_totalprice").alias("revenue"),
         F.count(F.lit(1)).alias("n_orders")])


Q26_SQL = f"""
WITH d AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         o_totalprice
  FROM orders
)
SELECT year, month, CAST(GROUPING(year, month) AS INTEGER) AS gid,
       {dsum_sql('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM d
GROUP BY ROLLUP(year, month)
"""


# --------------------------------------------------------------------------
# Q27 — sha256 surrogate keys (F15; rds/load_to_sqlserver.py:40-65) —
# idempotent-replay row identity for the incremental pipeline
# --------------------------------------------------------------------------

def q27_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        surrogate_key("lineitem", ["l_orderkey", "l_linenumber"]).alias("__pk"),
        "l_orderkey", "l_linenumber")


Q27_SQL = f"""
SELECT {surrogate_key_sql('lineitem', ['l_orderkey', 'l_linenumber'])} AS __pk,
       l_orderkey, l_linenumber
FROM lineitem
"""


# --------------------------------------------------------------------------
# Q32 — threshold severity gate (U5; go-quality-elt.py:144-168). The rule
# table is DERIVED (mean ± 2σ per group, computed with deterministic
# decimal sums so both engines agree bit-for-bit), broadcast-joined, and
# scored with the reference's both-bounds / ≥2-violations rule.
# --------------------------------------------------------------------------

def _det_stat_aggs(col: str, prefix: str) -> list:
    """mean/stddev building blocks from exact decimal sums —
    order-independent doubles, composable into ONE groupBy."""
    sx = F.sum(F.col(col).cast("decimal(18,4)")).cast("double")
    sxx = F.sum((F.col(col) * F.col(col)).cast("decimal(28,6)")).cast("double")
    return [sx.alias(f"_{prefix}_sx"), sxx.alias(f"_{prefix}_sxx")]


def _det_bounds(prefix: str) -> list:
    """mean ± 2σ from the _det_stat_aggs columns, rounded 4dp."""
    sx, sxx, n = (F.col(f"_{prefix}_sx"), F.col(f"_{prefix}_sxx"), F.col("_n"))
    mean = sx / n
    sd = F.sqrt((sxx - sx * sx / n) / (n - 1))
    return [F.round(mean - 2 * sd, 4).alias(f"{prefix}_min"),
            F.round(mean + 2 * sd, 4).alias(f"{prefix}_max")]


def q32_threshold_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decimal stat aggregates + severity when-chains are CPU-heavy per
    # row; a small single-row-group parquet input would serialize them
    # on one core (no-op at real scale, where splits >= parallelism)
    li = read_table(spark, sf_dir, "lineitem", spread=True)
    # ONE aggregation computes both metrics' stats (single scan+shuffle,
    # not one per metric column)
    thresholds = (li.groupBy("l_returnflag")
                    .agg(*_det_stat_aggs("l_extendedprice", "p"),
                         *_det_stat_aggs("l_quantity", "q"),
                         F.count(F.lit(1)).cast("double").alias("_n"))
                    .select("l_returnflag", *_det_bounds("p"), *_det_bounds("q")))
    scored = severity_from_thresholds(
        li, thresholds, ["l_returnflag"],
        [("l_extendedprice", "p_min", "p_max"),
         ("l_quantity", "q_min", "q_max")])
    return (scored.groupBy("l_returnflag", "severity")
                  .agg(F.count(F.lit(1)).alias("n_rows")))


_DET_STATS_SQL = """
  SELECT l_returnflag,
         CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS {p}_mean,
         sqrt((CAST(SUM(CAST({c} * {c} AS DECIMAL(28,6))) AS DOUBLE)
               - CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)
                 * CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1)) AS {p}_sd
  FROM lineitem GROUP BY l_returnflag
"""

Q32_SQL = f"""
WITH ps AS ({_DET_STATS_SQL.format(c='l_extendedprice', p='p')}),
qs AS ({_DET_STATS_SQL.format(c='l_quantity', p='q')}),
thresholds AS (
  SELECT ps.l_returnflag,
         ROUND(p_mean - 2 * p_sd, 4) AS p_min, ROUND(p_mean + 2 * p_sd, 4) AS p_max,
         ROUND(q_mean - 2 * q_sd, 4) AS q_min, ROUND(q_mean + 2 * q_sd, 4) AS q_max
  FROM ps JOIN qs USING (l_returnflag)
),
scored AS (
  SELECT li.l_returnflag,
         (CASE WHEN t.p_min IS NOT NULL AND t.p_max IS NOT NULL
                    AND (li.l_extendedprice < t.p_min OR li.l_extendedprice > t.p_max)
               THEN 1 ELSE 0 END
          + CASE WHEN t.q_min IS NOT NULL AND t.q_max IS NOT NULL
                      AND (li.l_quantity < t.q_min OR li.l_quantity > t.q_max)
                 THEN 1 ELSE 0 END) AS viol
  FROM lineitem li LEFT JOIN thresholds t USING (l_returnflag)
)
SELECT l_returnflag,
       CASE WHEN viol >= 2 THEN 'high' WHEN viol = 1 THEN 'low'
            ELSE 'none' END AS severity,
       COUNT(*) AS n_rows
FROM scored GROUP BY l_returnflag, severity
"""


# --------------------------------------------------------------------------
# Q33 — serving-layer top-N per key (O1/J4/A11; the dashboard's
# top_n_by_restaurant re-expressed as a rank-window engine query)
# --------------------------------------------------------------------------

def q33_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    j = (rev.join(cust, rev.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey))
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(),
                                             F.col("c_custkey"))
    return (j.withColumn("rank", F.row_number().over(w).cast("int"))
             .filter(F.col("rank") <= 5)
             .select("n_name", "rank", "c_custkey", "revenue"))


Q33_SQL = f"""
WITH rev AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY o_custkey
), j AS (
  SELECT n.n_name, c.c_custkey, rev.revenue
  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, CAST(rn AS INTEGER) AS rank, c_custkey, revenue
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name
                                   ORDER BY revenue DESC, c_custkey) AS rn
      FROM j)
WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# Q34 — sessionization by inactivity gap (the batch twin of stateful
# streaming session windows): lag → new-session flag → running sum as
# session id → per-session rollup. Two windows + one agg, all on the
# same user_id shuffle.
# --------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def q34_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compared at MICROSECOND precision: second-level timestampdiff
    # truncates and disagrees with an exact interval comparison on
    # fractional-second boundaries
    gap_us = F.expr("timestampdiff(MICROSECOND, _prev, ts)")
    flagged = (ev.withColumn("_prev", F.lag("ts").over(w))
                 .withColumn("_new",
                             F.when(F.col("_prev").isNull()
                                    | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000),
                                    1).otherwise(0)))
    sess = flagged.withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)).cast("long"))
    return (sess.groupBy("user_id", "session_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
                      .cast("long").alias("duration_us")))


Q34_SQL = f"""
WITH flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flags
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT) AS duration_us
FROM sess GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# Q35 — STATEFUL streaming sessionization (applyInPandasWithState).
# Completed-sessions semantics: a session is emitted once a newer event
# proves its gap elapsed; each user's trailing open session stays in
# state — so the oracle drops each user's last session too.
# --------------------------------------------------------------------------

def q35_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sessionize import sessionize_stateful
    from ..streaming.stream import run_rollup_available_now
    # keep event time as epoch micros so only longs cross the Arrow
    # boundary into the stateful fold
    src = (read_table_stream(spark, sf_dir, "events")
           .select("user_id", "event_id", ntz_micros("ts").alias("ts_us")))
    sessions = sessionize_stateful(src, gap_minutes=SESSION_GAP_MIN)
    return run_rollup_available_now(sessions, output_mode="append",
                                    state_partitions=4)


Q35_SQL = f"""
WITH flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flags
), rolled AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT) AS duration_us
  FROM sess GROUP BY user_id, session_id
)
SELECT * FROM rolled r
WHERE session_id < (SELECT MAX(session_id) FROM rolled r2
                    WHERE r2.user_id = r.user_id)
"""


# --------------------------------------------------------------------------
# Q53/Q54 — streaming twins of the T3 dedupe semantics
# (go-incremental-ingest-elt.py:200-213), closing the batch q12 loop:
#
# Q53 drives dropDuplicatesWithinWatermark through an AvailableNow
# drain. The operator keeps each key's FIRST-PROCESSED row — which row
# that is depends on file/batch order, so to stay oracle-deterministic
# the query emits the KEY COLUMNS only: "every key exactly once" is
# precisely the operator's guarantee, and the distinct key set is
# order-insensitive. State is evicted as the watermark passes — the
# property that lets keyed dedupe run forever at firehose scale
# (whole-history dropDuplicates state grows without bound).
#
# Q54 is the full keep-LATEST twin: a complete-mode streaming
# aggregation with max_by over the (ts, event_id) order key — the
# deterministic latest row per key, matching batch q12's oracle
# column-for-column.
# --------------------------------------------------------------------------

def q53_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    from ..sources.readers import ntz_to_instant
    # Lateness spans the whole bounded backfill: within-watermark
    # dedupe only guarantees once-per-key while a key's state LIVES, so
    # matching the DISTINCT oracle requires no eviction during the
    # drain (a multi-file drain with 1h lateness could re-emit a key
    # recurring days apart). A continuous production stream sets a real
    # lateness, which evicts state and keeps it bounded.
    src = (read_table_stream(spark, sf_dir, "events")
           # watermarks reject NTZ: convert via epoch micros
           .withColumn("ts", ntz_to_instant("ts"))
           .withWatermark("ts", "3650 days")
           .dropDuplicatesWithinWatermark(["user_id", "event_type"])
           .select("user_id", "event_type"))
    return run_rollup_available_now(src, output_mode="append",
                                    state_partitions=4)


Q53_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q54_stream_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    src = read_table_stream(spark, sf_dir, "events")
    latest = (src.groupBy("user_id", "event_type")
                 .agg(F.max_by(
                          F.struct("event_id",
                                   F.date_format("ts", TS_FMT).alias("ts"),
                                   "value"),
                          F.struct("ts", "event_id")).alias("_r"))
                 .select("user_id", "event_type",
                         F.col("_r.event_id").alias("event_id"),
                         F.col("_r.ts").alias("ts"),
                         F.col("_r.value").alias("value")))
    return run_rollup_available_now(latest, state_partitions=4)


# --------------------------------------------------------------------------
# Q65 — foreachBatch CDC upsert (streaming.bucketed_upsert): the change
# feed is split into multiple files and drained with maxFilesPerTrigger=1,
# so the merge-into-snapshot really runs ONCE PER MICRO-BATCH — each
# batch merges into the bucketed snapshot, rewriting only the buckets
# it touches and keeping the latest row per key (idempotent under
# replay). The final snapshot must equal batch q12's whole-history
# keep-latest — same oracle. This is the sink-side MERGE twin of q54's
# state-store keep-latest: state lives in the (restart-safe) snapshot
# table instead of the state store.
# --------------------------------------------------------------------------

def q65_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..streaming.bucketed_upsert import (foreach_batch_bucketed_upsert,
                                             read_bucketed_snapshot)
    from . import scratch_dir
    ev = read_table(spark, sf_dir, "events")
    work = scratch_dir(spark, sf_dir, "q65_upsert")
    shutil.rmtree(work, ignore_errors=True)
    src_dir = os.path.join(work, "src")
    # 4 files → 4 micro-batches: the cross-batch merge path is what
    # this query certifies (row placement is arbitrary; keep-latest
    # under a deterministic total order is merge-order-independent)
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    src = (spark.readStream
                .schema(spark.read.parquet(src_dir).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir))
    snap_dir = os.path.join(work, "snap")
    foreach_batch_bucketed_upsert(src,
                                  primary_keys=["user_id", "event_type"],
                                  order_by=[F.col("ts").desc()],
                                  tiebreak=[F.col("event_id").desc()],
                                  snapshot_dir=snap_dir,
                                  checkpoint_path=os.path.join(work, "ckpt"),
                                  n_buckets=8)
    snap = read_bucketed_snapshot(spark, snap_dir)
    if snap is None:   # empty change feed: no bucket ever written
        snap = ev.limit(0)
    return snap.select("user_id", "event_type", "event_id",
                       F.date_format("ts", TS_FMT).alias("ts"), "value")


# --------------------------------------------------------------------------
# Q55 — skew-proof exact distinct count (operators.skew). The salt is
# derived from the COUNTED VALUE, so shards partition the value space:
# per-shard exact counts sum to the exact total. The oracle is a plain
# COUNT(DISTINCT) — the hash-match PROVES salting changes nothing but
# the shuffle layout. This is the A6 surface (go-metric-elt.py:237-243)
# hardened for a key whose distinct set would crush one reducer.
# --------------------------------------------------------------------------

def q55_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count_distinct
    ev = read_table(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["event_type"], "user_id",
                                 n_salt=32, out_name="n_users")


Q55_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Q43 — ntile quantile scoring (the ranking-window class SURVEY.md §2.5
# declares "trivially added": ntile over a partitioned window). RFM-style
# quintile scores per nation. Scale note: a window PARTITION BY key puts
# each key's rows on one task, so the key must have bounded per-key
# cardinality (here: customers per nation). For unbounded keys, bucket
# via grouped percentile cutoffs (q03's pattern) instead of ntile.
# --------------------------------------------------------------------------

def q43_spend_quintiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    j = (rev.join(cust, rev.o_custkey == cust.c_custkey)
            .select("c_nationkey", "c_custkey", "revenue"))
    # deterministic total order inside each window (tie-break on key)
    w = Window.partitionBy("c_nationkey").orderBy(F.col("revenue").desc(),
                                                  F.col("c_custkey"))
    return j.withColumn("quintile", F.ntile(5).over(w))


Q43_SQL = f"""
WITH rev AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT c.c_nationkey, c.c_custkey, rev.revenue,
       CAST(NTILE(5) OVER (PARTITION BY c.c_nationkey
                           ORDER BY rev.revenue DESC, c.c_custkey)
            AS INTEGER) AS quintile
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
"""


# --------------------------------------------------------------------------
# Q44 — left-semi join (EXISTS): customers with >=1 urgent order.
# Semi joins ship only the join key of the probe side and emit each
# build row at most once — no fact-row duplication, the right plan for
# "has at least one" predicates at 100 TB (vs inner join + distinct,
# which shuffles the full match multiplicity first).
# --------------------------------------------------------------------------

def q44_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    urgent = (read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    return (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
                .select("c_custkey", "c_name", "c_mktsegment"))


Q44_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


# --------------------------------------------------------------------------
# Q45 — full-outer reconciliation: order headers vs line rollup, with
# presence status. The full-outer surface SURVEY.md §2.3 notes the
# reference lacks; both sides shuffle on the same key (orderkey), so
# the rollup and the join share one exchange.
# --------------------------------------------------------------------------

def q45_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (read_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_totalprice"))
    lines = (read_table(spark, sf_dir, "lineitem")
             .groupBy("l_orderkey")
             .agg(dsum("l_extendedprice").alias("line_total"),
                  F.count(F.lit(1)).alias("n_lines")))
    rec = o.join(lines, o.o_orderkey == lines.l_orderkey, "full_outer")
    status = (F.when(F.col("o_orderkey").isNull(), F.lit("lines_only"))
               .when(F.col("l_orderkey").isNull(), F.lit("header_only"))
               .otherwise(F.lit("both")))
    return rec.select(
        F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("header_total"),
        "line_total", "n_lines", status.alias("status"))


Q45_SQL = f"""
WITH l AS (
  SELECT l_orderkey, {dsum_sql('l_extendedprice')} AS line_total,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS orderkey,
       o.o_totalprice AS header_total,
       l.line_total, l.n_lines,
       CASE WHEN o.o_orderkey IS NULL THEN 'lines_only'
            WHEN l.l_orderkey IS NULL THEN 'header_only'
            ELSE 'both' END AS status
FROM orders o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
"""


# --------------------------------------------------------------------------
# Q46 — INTERSECT (§2.6 set-op surface): customers who ordered in BOTH
# 1996 and 1997. Plans as a LeftSemi over pre-distinct inputs — one
# shuffle per side on the same key, no row multiplication.
# --------------------------------------------------------------------------

def q46_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    y96 = (o.filter(F.year("o_orderdate") == 1996)
             .select(F.col("o_custkey").alias("custkey")))
    y97 = (o.filter(F.year("o_orderdate") == 1997)
             .select(F.col("o_custkey").alias("custkey")))
    return y96.intersect(y97)


Q46_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
"""


# --------------------------------------------------------------------------
# Q47 — EXCEPT ALL (§2.6 O3 with multiset fidelity — the B6 fix made
# queryable): the exact multiset of lines REMOVED by the quality
# predicates. exceptAll preserves duplicate counts, so removed ∪ kept
# reconstructs the input exactly — the invariant `subtract` silently
# breaks by deduping.
# --------------------------------------------------------------------------

def q47_removed_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (read_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
    clean = li.filter((F.col("l_quantity") > 0) & (F.col("l_quantity") <= 47)
                      & (F.col("l_extendedprice") > 0))
    return li.exceptAll(clean)


Q47_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
EXCEPT ALL
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_quantity > 0 AND l_quantity <= 47 AND l_extendedprice > 0
"""


# --------------------------------------------------------------------------
# Q49 — pivot (wide metric matrix: the dashboard's crosstab shape,
# streamlit/go_streamlit.py:400-404 rendered as columns). Built with
# operators.aggregates.pivot_agg, which lowers a known-values pivot to
# ONE conditional aggregation — Spark's own ``.pivot()`` plans two
# aggregation passes (and without an explicit value list it first runs
# a distinct-values job over the fact: a full extra scan at 100 TB).
# --------------------------------------------------------------------------

_PRIORITIES = {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium",
               "4-NOT SPECIFIED": "not_specified", "5-LOW": "low"}


def q49_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import pivot_agg
    o = read_table(spark, sf_dir, "orders")
    d = o.select(F.year("o_orderdate").cast("int").alias("year"),
                 "o_orderpriority", "o_totalprice")
    return pivot_agg(d, ["year"], "o_orderpriority", _PRIORITIES,
                     lambda cell: dsum(cell("o_totalprice")))


Q49_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       {", ".join(
           dsum_sql(f"CASE WHEN o_orderpriority = '{k}' THEN o_totalprice END")
           + f" AS {v}" for k, v in _PRIORITIES.items())}
FROM orders
GROUP BY year(o_orderdate)
"""


# --------------------------------------------------------------------------
# Q50 — stream-static enrichment join: the events stream joined to a
# static dimension (customer segment) inside the streaming runtime,
# then aggregated. The static side is broadcast — each micro-batch
# probes an executor-local hash map, so the stream never shuffles for
# the join; that is THE join shape for enriching a firehose against
# reference data at scale. Result equals the batch join+agg → same
# oracle.
# --------------------------------------------------------------------------

def q50_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    src = read_table_stream(spark, sf_dir, "events")
    dim = (read_table(spark, sf_dir, "customer")
           .select("c_custkey", "c_mktsegment"))
    enriched = src.join(F.broadcast(dim),
                        src.user_id == dim.c_custkey, "inner")
    agg = (enriched.groupBy("event_type", "c_mktsegment")
                   .agg(F.count(F.lit(1)).alias("n_events"),
                        dsum("value").alias("total_value")))
    return run_rollup_available_now(agg, state_partitions=4)


Q50_SQL = f"""
SELECT event_type, c_mktsegment, COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY event_type, c_mktsegment
"""


# --------------------------------------------------------------------------
# Q51 — analytic-window completion (§2.5 note: lead / first_value /
# dense_rank "trivially added via the same Window surface" — here they
# are, oracle-checked): per-customer order timeline. Both windows
# partition on the same key, so Catalyst plans ONE exchange and two
# in-partition sorts — adding analytic columns costs sorts, not
# shuffles.
# --------------------------------------------------------------------------

def q51_order_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_size = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.date_format(_d("o_orderdate"), DATE_FMT).alias("order_date"),
        "o_totalprice",
        F.date_format(F.lead(_d("o_orderdate")).over(w_time),
                      DATE_FMT).alias("next_order_date"),
        F.first("o_totalprice").over(w_time).alias("first_order_value"),
        F.dense_rank().over(w_size).cast("int").alias("size_rank"))


Q51_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_totalprice,
       CAST(LEAD(CAST(o_orderdate AS DATE))
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS VARCHAR)
         AS next_order_date,
       FIRST_VALUE(o_totalprice)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS first_order_value,
       CAST(DENSE_RANK()
              OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
         AS size_rank
FROM orders
"""


# --------------------------------------------------------------------------
# Q52 — CUBE grouping sets (q26 covers ROLLUP's grain ladder; CUBE is
# the full lattice the dashboard's slice-anyway filters imply). One
# Expand ×4 feeds one partial+final aggregation — a 4× row fan-out on
# a 2-bit lattice, vs 4 separate scans of the fact. gid disambiguates
# subtotal rows from genuine NULL group values.
# --------------------------------------------------------------------------

def q52_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (o.cube("o_orderpriority", "o_orderstatus")
             .agg(F.grouping_id().cast("int").alias("gid"),
                  F.count(F.lit(1)).alias("n_orders"),
                  dsum("o_totalprice").alias("revenue")))


Q52_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


# --------------------------------------------------------------------------
# Q68 — SCD type-2 history from the change feed
# (operators.windows.scd2_history): the warehouse-side versioned
# dimension the reference's CDC ingest feeds
# (go-incremental-ingest-elt.py:200-213 keeps only the latest row;
# SCD2 keeps every state change as a [valid_from, valid_to) interval).
# Collapse-on-unchanged + lead-derived bounds; both windows share one
# exchange (same key, same order).
# --------------------------------------------------------------------------

def q68_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import scd2_history
    ev = read_table(spark, sf_dir, "events")
    h = scd2_history(ev, ["user_id"], [F.col("ts"), F.col("event_id")],
                     ["event_type"], ts_col="ts", collapse=True)
    return h.select("user_id", "version", "event_type",
                    ntz_micros("valid_from").alias("valid_from_us"),
                    ntz_micros("valid_to").alias("valid_to_us"),
                    "is_current")


Q68_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), kept AS (
  SELECT user_id, event_type, ts, event_id
  FROM e WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
       event_type,
       epoch_us(ts) AS valid_from_us,
       epoch_us(LEAD(ts) OVER w) AS valid_to_us,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM kept
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --------------------------------------------------------------------------
# Q69 — SLIDING-window streaming rollup (q29 is the tumbling form):
# window("ts", "2 hours", "1 hour") through the streaming runtime —
# each event feeds exactly two hour-aligned overlapping buckets. The
# oracle replays the window algebra: bucket starts are
# date_trunc('hour', ts) - {0,1} hours.
# --------------------------------------------------------------------------

def q69_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now
    src = read_table_stream(spark, sf_dir, "events")
    agg = (src.groupBy(F.window("ts", "2 hours", "1 hour").alias("bucket"),
                       F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   dsum("value").alias("total_value"))
              .select(F.date_format("bucket.start", TS_FMT).alias("bucket_start"),
                      "event_type", "n_events", "total_value"))
    return run_rollup_available_now(agg, state_partitions=4)


Q69_SQL = f"""
WITH offs AS (SELECT unnest([0, 1]) AS o),
w AS (
  SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP))
           - o * (INTERVAL 1 HOUR) AS ws,
         e.event_type, e.value
  FROM events e CROSS JOIN offs
)
SELECT strftime(ws, '{SQL_TS_FMT}') AS bucket_start, event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM w
GROUP BY ws, event_type
"""


# --------------------------------------------------------------------------
# Q72 — snapshot diff / CDC generation (operators.joins.snapshot_diff):
# the inverse of the reference's apply-changes ingest — given two keyed
# table states, emit the minimal I/U/D feed that replays old → new.
# Old/new are derived deterministically from orders (dropped keys,
# price bumps, status flips), so the oracle reconstructs both sides.
# --------------------------------------------------------------------------

def _snapshot_states(spark: SparkSession,
                     sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic old/new order-table states for the CDC queries:
    old drops every 7th key, new drops every 5th, bumps price on every
    3rd (+10.0 — double addition is IEEE-identical across engines;
    round-on-double is not) and flips status on every 11th."""
    o = read_table(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderkey") % 7 != 0)
             .select("o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderstatus"))
    new = (o.filter(F.col("o_orderkey") % 5 != 0)
             .select(
                 "o_orderkey", "o_custkey",
                 F.when(F.col("o_orderkey") % 3 == 0,
                        F.col("o_totalprice") + F.lit(10.0))
                  .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
                 F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
                  .otherwise(F.col("o_orderstatus")).alias("o_orderstatus")))
    return old, new


def q72_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import snapshot_diff
    old, new = _snapshot_states(spark, sf_dir)
    return snapshot_diff(old.drop("o_custkey"), new.drop("o_custkey"),
                         ["o_orderkey"], ["o_totalprice", "o_orderstatus"])


Q72_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 5 <> 0
), j AS (
  SELECT old.o_orderkey AS ok, new.o_orderkey AS nk,
         old.o_totalprice AS op_, old.o_orderstatus AS os_,
         new.o_totalprice AS np_, new.o_orderstatus AS ns_
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
), c AS (
  SELECT COALESCE(nk, ok) AS o_orderkey,
         CASE WHEN nk IS NOT NULL THEN np_ ELSE op_ END AS o_totalprice,
         CASE WHEN nk IS NOT NULL THEN ns_ ELSE os_ END AS o_orderstatus,
         CASE WHEN ok IS NULL THEN 'I' WHEN nk IS NULL THEN 'D'
              WHEN op_ IS DISTINCT FROM np_
                OR os_ IS DISTINCT FROM ns_ THEN 'U' END AS op,
         CASE WHEN ok IS NOT NULL AND nk IS NOT NULL THEN
                concat_ws(',',
                  CASE WHEN op_ IS DISTINCT FROM np_
                       THEN 'o_totalprice' END,
                  CASE WHEN os_ IS DISTINCT FROM ns_
                       THEN 'o_orderstatus' END)
              ELSE '' END AS changed_cols
  FROM j
)
SELECT * FROM c WHERE op IS NOT NULL
"""


# --------------------------------------------------------------------------
# Q73 — incremental aggregate maintenance (IVM): per-customer
# count/revenue kept current by MERGING the q72 change feed into the
# old aggregate state (operators.aggregates.merge_agg_states) — never
# rescanning the fact table. The oracle recomputes the aggregate from
# the new state directly, so the hash match PROVES delta-maintenance
# == full recompute (exact decimal sums make them bit-identical).
# --------------------------------------------------------------------------

def q73_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import merge_agg_states
    from ..operators.joins import snapshot_diff
    old, new = _snapshot_states(spark, sf_dir)
    agg_old = (old.groupBy("o_custkey")
                  .agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum(dec("o_totalprice")).alias("_rev")))
    feed = snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"],
                         carry_cols=["o_custkey"], include_old=True)
    is_i, is_d = F.col("op") == "I", F.col("op") == "D"
    n_delta = F.when(is_i, 1).when(is_d, -1).otherwise(0)
    rev_delta = (F.when(is_i, dec("o_totalprice"))
                  .when(is_d, -dec("old_o_totalprice"))
                  .otherwise(dec("o_totalprice") - dec("old_o_totalprice")))
    agg_delta = (feed.groupBy("o_custkey")
                     .agg(F.sum(n_delta).alias("n_orders"),
                          F.sum(rev_delta).alias("_rev")))
    merged = merge_agg_states(agg_old, agg_delta, ["o_custkey"],
                              count_col="n_orders", sum_cols=["_rev"])
    return merged.select("o_custkey", "n_orders",
                         F.col("_rev").cast("double").alias("revenue"))


Q73_SQL = f"""
WITH new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT o_custkey, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM new GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# Q74 — STREAMING incremental view maintenance (q73's streaming twin):
# per-user count/value kept current by merging each micro-batch's
# delta into a versioned aggregate snapshot
# (streaming.upsert.foreach_batch_incremental_agg). Exactly-once by
# construction: each state commits with its query and batch ids, and a
# batch the query already committed is skipped, so a replay never
# double-counts. The oracle aggregates the whole history at once — the
# hash match proves 4 incremental merges == one full aggregation.
# --------------------------------------------------------------------------

def q74_stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..streaming.upsert import (foreach_batch_incremental_agg,
                                    read_snapshot)
    from . import scratch_dir
    ev = read_table(spark, sf_dir, "events")
    work = scratch_dir(spark, sf_dir, "q74_ivm")
    shutil.rmtree(work, ignore_errors=True)
    src_dir = os.path.join(work, "src")
    # 4 files → 4 micro-batches: certifies the cross-batch merge path
    # (additive merges are order-insensitive, so placement is free)
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    src = (spark.readStream
                .schema(spark.read.parquet(src_dir).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir))

    def delta_fn(batch: DataFrame) -> DataFrame:
        return batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("_val"))

    snap_dir = os.path.join(work, "snap")
    foreach_batch_incremental_agg(
        src, delta_fn=delta_fn, keys=["user_id"], count_col="n_events",
        sum_cols=["_val"], snapshot_dir=snap_dir,
        checkpoint_path=os.path.join(work, "ckpt"))
    snap = read_snapshot(spark, snap_dir)
    return snap.select("user_id", "n_events",
                       F.col("_val").cast("double").alias("total_value"))


Q74_SQL = f"""
SELECT user_id, COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Q79 — trailing event-time window features (W2-W4 extension: RANGE
# frame over event time): per event, the count/sum of the same user's
# events in the preceding hour — the feature-engineering shape behind
# rate limits, fraud velocity checks, and session intensity. A RANGE
# frame on epoch-micros order bounds the frame by TIME, not row count
# (a rowsBetween frame would be wrong under bursts); peers with equal
# timestamps are in-frame in both engines by SQL-standard RANGE
# semantics. One shuffle on user_id; decimal window sums keep the
# result order-independent.
# --------------------------------------------------------------------------

def q79_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    us = ntz_micros("ts")
    base = ev.select("event_id", "user_id", us.alias("ts_us"), "value")
    w = (Window.partitionBy("user_id").orderBy("ts_us")
               .rangeBetween(-3_600_000_000, 0))
    return base.select(
        "event_id", "user_id", "ts_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_1h"))


Q79_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Q84 — robust time-series anomaly flagging (A9/A10 on the trend
# family): median + MAD per priority over the daily revenue rollup,
# each day scored with a robust z and flagged beyond 3 scaled MADs —
# the outlier rule that survives the outliers it hunts (mean±2σ, q32's
# rule, is dragged by the anomaly itself). Same exact-percentile +
# broadcast-join-back shape as q16; MAD needs the median first, so two
# tiny aggregate stages over the (small) rollup, never the fact.
# --------------------------------------------------------------------------

def q84_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    bucket = F.date_format(F.date_trunc("day", F.col("o_orderdate"))
                           .cast("date"), DATE_FMT).alias("bucket_start")
    daily = (o.groupBy(bucket, F.col("o_orderpriority"))
              .agg(dsum("o_totalprice").alias("revenue")))
    med = (daily.groupBy("o_orderpriority")
                .agg(F.round(F.expr("percentile(revenue, 0.5)"), 4)
                      .alias("med")))
    j = daily.join(F.broadcast(med), "o_orderpriority")
    mad = (j.groupBy("o_orderpriority")
            .agg(F.round(F.expr("percentile(abs(revenue - med), 0.5)"), 4)
                  .alias("mad")))
    out = j.join(F.broadcast(mad), "o_orderpriority")
    z = (F.col("revenue") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return out.select(
        "o_orderpriority", "bucket_start", "revenue",
        F.when(F.col("mad") > 0, F.round(z, 6) + F.lit(0.0))
         .alias("robust_z"),
        (F.abs(F.col("revenue") - F.col("med"))
         > F.lit(3 * 1.4826) * F.col("mad")).alias("is_anomaly"))


Q84_SQL = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS VARCHAR)
           AS bucket_start,
         o_orderpriority,
         {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY bucket_start, o_orderpriority
), med AS (
  SELECT o_orderpriority, ROUND(quantile_cont(revenue, 0.5), 4) AS med
  FROM daily GROUP BY o_orderpriority
), j AS (
  SELECT d.*, m.med FROM daily d JOIN med m USING (o_orderpriority)
), mad AS (
  SELECT o_orderpriority,
         ROUND(quantile_cont(abs(revenue - med), 0.5), 4) AS mad
  FROM j GROUP BY o_orderpriority
)
SELECT j.o_orderpriority, j.bucket_start, j.revenue,
       CASE WHEN mad.mad > 0
            THEN ROUND((j.revenue - j.med) / (1.4826 * mad.mad), 6) + 0.0
       END AS robust_z,
       (abs(j.revenue - j.med) > 3 * 1.4826 * mad.mad) AS is_anomaly
FROM j JOIN mad USING (o_orderpriority)
"""


# --------------------------------------------------------------------------
# Q85 — ordered conversion funnel (the dashboard staple the serving
# layer would grow next): per user, the earliest view, the earliest
# click AFTER that view, the earliest purchase AFTER that click —
# strictly ordered steps, so a purchase before the first view doesn't
# count. Three keyed aggregate+join rounds (each over one event type's
# slice, all on user_id so the exchanges reuse); stage = how deep the
# user got.
# --------------------------------------------------------------------------

def q85_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")

    def step(etype: str, after: DataFrame | None, after_col: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if after is not None:
            e = (e.join(after, "user_id")
                  .filter(F.col("ts") > F.col(after_col)))
        return e.groupBy("user_id").agg(F.min("ts").alias(f"_{etype}"))

    s1 = step("view", None, "")
    s2 = step("click", s1, "_view")
    s3 = step("purchase", s2, "_click")
    users = ev.select("user_id").distinct()
    out = (users.join(s1, "user_id", "left")
                .join(s2, "user_id", "left")
                .join(s3, "user_id", "left"))
    stage = (F.when(F.col("_purchase").isNotNull(), 3)
              .when(F.col("_click").isNotNull(), 2)
              .when(F.col("_view").isNotNull(), 1)
              .otherwise(0))
    return out.select(
        "user_id", stage.cast("int").alias("funnel_stage"),
        ntz_micros("_view").alias("view_us"),
        ntz_micros("_click").alias("click_us"),
        ntz_micros("_purchase").alias("purchase_us"))


Q85_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT u.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_stage,
       epoch_us(s1.t1) AS view_us,
       epoch_us(s2.t2) AS click_us,
       epoch_us(s3.t3) AS purchase_us
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


# --------------------------------------------------------------------------
# Q86 — retention cohorts (weekly): users grouped by first-seen week,
# activity matrix of distinct users per (cohort week, activity week) —
# the other dashboard staple. One min-aggregate for cohorts joined to
# the distinct (user, week) activity set; weeks via ISO date_trunc
# (B10-fixed, same as the trend family).
# --------------------------------------------------------------------------

def q86_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    wk = F.date_format(F.date_trunc("week", F.col("ts")).cast("date"),
                       DATE_FMT)
    act = ev.select("user_id", wk.alias("week")).distinct()
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (act.join(first, "user_id")
               .groupBy("cohort_week", F.col("week").alias("activity_week"))
               .agg(F.countDistinct("user_id").alias("n_users")))


Q86_SQL = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
              AS VARCHAR) AS week
  FROM events
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT f.cohort_week, a.week AS activity_week,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY f.cohort_week, a.week
"""


# --------------------------------------------------------------------------
# Q88 — Spark's NATIVE session_window (q34 hand-builds the same
# sessions from lag+cumsum; this exercises the built-in operator —
# dynamic-gap merging in the aggregation itself, the form that also
# runs under Structured Streaming state). Session end is
# last-event + gap by definition (half-open window), which the oracle
# reproduces; a new session starts when the gap is REACHED (>=).
# --------------------------------------------------------------------------

def q88_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("sw"),
                       F.col("user_id"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   dsum("value").alias("total_value"))
              .select("user_id",
                      F.date_format("sw.start", TS_FMT).alias("session_start"),
                      F.date_format("sw.end", TS_FMT).alias("session_end"),
                      "n_events", "total_value"))


Q88_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), m AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM o
), s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       strftime(MIN(ts), '{SQL_TS_FMT}') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '{SQL_TS_FMT}') AS session_end,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM s GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# Q106 — q88's native session windows through the STREAMING runtime:
# watermarked session_window aggregation drained AvailableNow in
# append mode. This exercises Spark's built-in session-window STATE
# (merge-on-update in the state store, watermark-driven emission) —
# the third sessionization form next to batch lag+cumsum (q34) and
# the custom applyInPandasWithState fold (q35). Append mode emits a
# session once the watermark passes its end; with delay 0 the final
# watermark is the global max event time, so the oracle is q88's
# session chain restricted to session_end <= max(ts) — the emission
# boundary is INCLUSIVE (verified empirically: a session whose end
# equals the final watermark is emitted). Timestamps surface as epoch
# micros so results are session-timezone-independent.
# --------------------------------------------------------------------------

def q106_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import ntz_to_instant
    from ..streaming.stream import run_rollup_available_now
    src = (read_table_stream(spark, sf_dir, "events")
           .withColumn("ts_i", ntz_to_instant("ts"))
           .withWatermark("ts_i", "0 seconds"))
    agg = (src.groupBy(F.session_window(F.col("ts_i"), "30 minutes")
                        .alias("sw"),
                       F.col("user_id"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   dsum("value").alias("total_value")))
    out = run_rollup_available_now(agg, output_mode="append",
                                   state_partitions=4)
    return out.select("user_id",
                      F.unix_micros(F.col("sw.start")).alias("session_start_us"),
                      F.unix_micros(F.col("sw.end")).alias("session_end_us"),
                      "n_events", "total_value")


Q106_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), m AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM o
), s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), r AS (
  SELECT user_id,
         epoch_us(MIN(ts)) AS session_start_us,
         epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
         COUNT(*) AS n_events,
         {dsum_sql('value')} AS total_value
  FROM s GROUP BY user_id, sid
)
SELECT * FROM r
WHERE session_end_us <= (SELECT epoch_us(MAX(ts)) FROM events)
"""


# --------------------------------------------------------------------------
# Q108 — SCD2 point-in-time lookup: each purchase resolved against the
# dimension version IN FORCE at its timestamp (q68's history + the
# as-of join): the canonical warehouse pattern for versioned
# dimensions. The as-of form replaces the naive key+interval join —
# one shuffle, no per-key version fan-out; [valid_from, valid_to)
# semantics fall out of the inclusive backward match with a
# greatest-version tie-break (a zero-length version at a boundary
# loses to its successor in both engines).
# --------------------------------------------------------------------------

def q108_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join
    from ..operators.windows import scd2_history
    ev = read_table(spark, sf_dir, "events")
    h = scd2_history(ev, ["user_id"], [F.col("ts"), F.col("event_id")],
                     ["event_type"], ts_col="ts", collapse=True)
    hist = h.select("user_id", F.col("valid_from").alias("ts"),
                    "version", F.col("event_type").alias("state_type"))
    p = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("event_id").alias("purchase_id")))
    j = asof_join(p, hist, ["user_id"], "ts", "ts",
                  right_payload=["version", "state_type"],
                  tie_break="version")
    return j.select("purchase_id", "user_id",
                    F.col("asof_version").alias("version"),
                    F.col("asof_state_type").alias("state_type"))


Q108_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), kept AS (
  SELECT user_id, event_type, ts, event_id
  FROM e WHERE prev IS NULL OR event_type <> prev
), hist AS (
  SELECT user_id,
         CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
         event_type AS state_type,
         ts AS valid_from,
         LEAD(ts) OVER w AS valid_to
  FROM kept
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, h.version, h.state_type
FROM p JOIN hist h
  ON h.user_id = p.user_id
 AND h.valid_from <= p.ts
 AND (h.valid_to IS NULL OR p.ts < h.valid_to)
"""


# --------------------------------------------------------------------------
# Q109 — debounce / near-time duplicate suppression: drop an event
# that repeats the same (user, type) within 60 s of the PREVIOUS KEPT
# event — the telemetry dedup that exact-PK dedup (q12) and content
# dedup (q13) both miss (retransmits carry fresh ids and jittered
# payloads). Anchor-to-kept semantics need a chain fold, not a plain
# lag: a burst t, t+30, t+50, t+70 keeps t and t+70 (t+30/t+50 are
# within 60 s of KEPT t, but t+70 is not — a lag-only filter would
# also drop t+70 since its raw gap to t+50 is 20 s). The fold is the
# same gap→session decomposition as q34: events whose raw gap ≥ 60 s
# always survive and anchor a chain; within a chain, survival
# alternates by cumulative distance from the anchor — expressed here
# per chain via a bounded per-chain aggregate fold (chains are
# short-lived bursts; the window is entity-keyed and parallel).
# --------------------------------------------------------------------------

_DEBOUNCE_S = 60


def q109_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = ntz_micros("ts") - F.lag(ntz_micros("ts")).over(w)
    bound = _DEBOUNCE_S * 1_000_000
    # chain id: break whenever the raw gap >= bound (those rows are
    # unconditionally kept and start a fresh debounce chain)
    marked = (ev.select("user_id", "event_type", "event_id", "ts")
                .withColumn("_gap", gap_us)
                .withColumn("_brk", F.when(F.col("_gap").isNull()
                                           | (F.col("_gap") >= bound), 1)
                                     .otherwise(0)))
    chain = (marked.withColumn(
        "_chain", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    # within a chain, fold over the ordered (ts_us, event_id) list:
    # keep a row iff it's >= bound past the last KEPT row. Chains are
    # bursts (bounded), so the per-chain array is small by construction.
    cw = Window.partitionBy("user_id", "event_type", "_chain") \
               .orderBy("ts", "event_id") \
               .rowsBetween(Window.unboundedPreceding, 0)
    rows_in_chain = F.collect_list(
        F.struct(ntz_micros("ts").alias("us"),
                 F.col("event_id").alias("eid"))).over(cw)
    kept_anchor = F.aggregate(
        rows_in_chain,
        F.lit(None).cast("long"),
        lambda acc, x: F.when(acc.isNull(), x["us"])
                        .when(x["us"] - acc >= bound, x["us"])
                        .otherwise(acc))
    # A row is kept iff the fold's anchor CHANGED at this row (the
    # anchor only ever updates to the current row's us). Comparing
    # against "_kept_us == ts" instead would keep EVERY row of a
    # same-microsecond retransmit burst (second copy leaves the anchor
    # unchanged but still equal to its own us) — the lag-of-anchor form
    # keeps exactly the first row per anchor value.
    cw_lag = Window.partitionBy("user_id", "event_type", "_chain") \
                   .orderBy("ts", "event_id")
    out = (chain.withColumn("_kept_us", kept_anchor)
                .withColumn("_kept_prev", F.lag("_kept_us").over(cw_lag))
                .filter(F.col("_kept_prev").isNull()
                        | (F.col("_kept_us") != F.col("_kept_prev"))))
    return out.select("user_id", "event_type", "event_id",
                      ntz_micros("ts").alias("ts_us"))


Q109_SQL = f"""
WITH o AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      >= {_DEBOUNCE_S * 1_000_000} THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), c AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id, event_type ORDER BY rn
                           ROWS UNBOUNDED PRECEDING) AS chain
  FROM o
), folded AS (
  SELECT user_id, event_type, event_id, us, chain, rn,
         list_reduce(
           list_prepend(CAST(NULL AS BIGINT),
             list(us) OVER (PARTITION BY user_id, event_type, chain
                            ORDER BY rn ROWS UNBOUNDED PRECEDING)),
           (acc, x) -> CASE WHEN acc IS NULL THEN x
                            WHEN x - acc >= {_DEBOUNCE_S * 1_000_000} THEN x
                            ELSE acc END) AS kept_us
  FROM c
)
SELECT user_id, event_type, event_id, us AS ts_us
FROM (SELECT *, lag(kept_us) OVER (PARTITION BY user_id, event_type, chain
                                   ORDER BY rn) AS kept_prev
      FROM folded)
WHERE kept_prev IS NULL OR kept_us <> kept_prev
"""


# --------------------------------------------------------------------------
# Q120 — histogram quantiles (operators.aggregates.histogram_quantiles):
# approximate P50/P90/P99 of line price from an equi-width histogram —
# the MERGEABLE summary shape (n_bins integers of state, map-side
# combinable, driver never sees values) vs q03/q16's exact percentile
# arrays. Every estimate is double math over exact integer counts
# computed identically in both engines, so the oracle replays the
# interpolation bit-for-bit — an approximate sketch with an EXACT
# correctness gate.
# --------------------------------------------------------------------------

def q120_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import histogram_quantiles
    li = read_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice",
                               qs=(0.5, 0.9, 0.99), n_bins=128)


def _q120_pick_sql(q: float) -> str:
    return f"""
  SELECT {q} AS q, n AS n_rows,
         CASE WHEN hi = lo THEN lo
              ELSE lo + (hi - lo) / 128.0
                   * (bin + ({q} * n - cum_before) / cnt) END AS estimate
  FROM cc
  WHERE cum_before < {q} * n AND {q} * n <= cum_before + cnt
  ORDER BY bin LIMIT 1"""


Q120_SQL = ("""
WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
mm AS (SELECT min(x) AS lo, max(x) AS hi, COUNT(*) AS n FROM v),
b AS (
  SELECT LEAST(CAST(floor((x - lo) / (CASE WHEN (hi - lo) / 128.0 > 0
                                           THEN (hi - lo) / 128.0
                                           ELSE 1.0 END)) AS INT),
               127) AS bin, lo, hi, n
  FROM v, mm),
c AS (SELECT bin, lo, hi, n, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3, 4),
cc AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY bin
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       FROM c)
"""
            + "\nUNION ALL BY NAME\n".join(
                f"({_q120_pick_sql(q)})" for q in (0.5, 0.9, 0.99)))


# --------------------------------------------------------------------------
# Q121 — UNPIVOT / melt (the inverse of q49's one-pass pivot,
# completing the reshape family): a wide per-priority revenue matrix
# melts back to (priority, status, revenue) long form via the native
# DataFrame.unpivot (Expand-based, one pass, no join). Null cells
# (combinations absent from the data) are dropped so the round trip
# equals the direct long-form aggregation — which is exactly what the
# oracle computes, proving pivot→unpivot loses nothing.
# --------------------------------------------------------------------------

def q121_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    wide = (o.groupBy("o_orderpriority")
             .pivot("o_orderstatus", statuses)
             .agg(F.round(dsum("o_totalprice"), 4)))
    long = wide.unpivot("o_orderpriority", statuses,
                        "o_orderstatus", "revenue")
    return long.filter(F.col("revenue").isNotNull())


Q121_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       ROUND({dsum_sql('o_totalprice')}, 4) AS revenue
FROM orders GROUP BY o_orderpriority, o_orderstatus
"""


# --------------------------------------------------------------------------
# Q122 — relative-standing windows (percent_rank / cume_dist — the
# W-family members q43's ntile doesn't cover): each customer's spend
# percentile within their nation. Entity-keyed partitioning, ONE
# exchange for both functions plus the rank itself; (rank-1)/(n-1)
# and cume_dist are integer-derived doubles, deterministic in both
# engines without rounding tricks.
# --------------------------------------------------------------------------

def q122_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    spend = (o.groupBy("o_custkey")
              .agg(dsum("o_totalprice").alias("spend")))
    cust = spend.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                      spend.o_custkey == F.col("c_custkey"))
    w = Window.partitionBy("c_nationkey").orderBy("spend", "o_custkey")
    return cust.select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.round("spend", 4).alias("spend"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))


Q122_SQL = f"""
WITH spend AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend
  FROM orders GROUP BY o_custkey
)
SELECT s.o_custkey AS custkey, c.c_nationkey AS nationkey,
       ROUND(s.spend, 4) AS spend,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey
WINDOW w AS (PARTITION BY c.c_nationkey ORDER BY s.spend, s.o_custkey)
"""


# --------------------------------------------------------------------------
# Q123 — market-basket affinity (co-purchase lift): part pairs bought
# in the same order, scored by lift = P(a,b)·N / (P(a)·P(b)). The
# scale guard is structural, not hopeful: the pair fan-out is
# C(items,2) PER ORDER, so the basket is first restricted to the
# top-K parts by order frequency (rank subquery, broadcast semi-join
# — no driver collect), bounding the self-join to K²/2 candidate
# pairs corpus-wide. Every count is an integer; lift is one double
# division over integers, rounded — deterministic in both engines.
# --------------------------------------------------------------------------

_Q123_TOP_PARTS = 50


def q123_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # the distinct basket feeds FIVE consumers (freq, both self-join
    # sides, order count); checkpoint it so the scan+distinct runs once
    # (AQE runs its shuffle at build; a register_cache ran 1.8x slower)
    op = (li.select("l_orderkey", "l_partkey").distinct()
            .localCheckpoint(eager=False))
    freq = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    topk = (freq.orderBy(F.desc("n_part"), "l_partkey")
                .limit(_Q123_TOP_PARTS))
    basket = op.join(F.broadcast(topk), "l_partkey")
    n_orders = op.select("l_orderkey").distinct() \
                 .agg(F.count(F.lit(1)).alias("_n_orders"))
    a = basket.select("l_orderkey", F.col("l_partkey").alias("part_a"),
                      F.col("n_part").alias("n_a"))
    b = basket.select("l_orderkey", F.col("l_partkey").alias("part_b"),
                      F.col("n_part").alias("n_b"))
    pairs = (a.join(b, "l_orderkey")
              .filter(F.col("part_a") < F.col("part_b"))
              .groupBy("part_a", "part_b", "n_a", "n_b")
              .agg(F.count(F.lit(1)).alias("n_both")))
    lift = (F.col("n_both").cast("double") * F.col("_n_orders")
            / (F.col("n_a").cast("double") * F.col("n_b")))
    return (pairs.crossJoin(F.broadcast(n_orders))
                 .filter(F.col("n_both") >= 1)
                 .select("part_a", "part_b", "n_both", "n_a", "n_b",
                         F.round(lift, 6).alias("lift")))


Q123_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
topk AS (SELECT * FROM freq ORDER BY n_part DESC, l_partkey
         LIMIT {_Q123_TOP_PARTS}),
basket AS (SELECT op.l_orderkey, op.l_partkey, t.n_part
           FROM op JOIN topk t USING (l_partkey)),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         a.n_part AS n_a, b.n_part AS n_b, COUNT(*) AS n_both
  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
   AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2, 3, 4)
SELECT part_a, part_b, n_both, n_a, n_b,
       ROUND(CAST(n_both AS DOUBLE) * n_orders
             / (CAST(n_a AS DOUBLE) * n_b), 6) AS lift
FROM pairs, n WHERE n_both >= 1
"""


# --------------------------------------------------------------------------
# Q124 — cohort LTV triangle (q86 counts retained USERS; this sums
# retained REVENUE): customers grouped by first-order month, revenue
# per cohort per activity month — the lifetime-value curve marketing
# reads off the diagonal. Two aggregations and one broadcastable
# first-order join; months format as strings so output is
# timezone/engine-stable.
# --------------------------------------------------------------------------

def q124_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    mon = F.date_format("o_orderdate", "yyyy-MM")
    base = o.select("o_custkey", mon.alias("month"), "o_totalprice")
    first = base.groupBy("o_custkey").agg(F.min("month").alias("cohort"))
    return (base.join(first, "o_custkey")
                .groupBy("cohort", "month")
                .agg(F.countDistinct("o_custkey").alias("n_active"),
                     dsum("o_totalprice").alias("revenue")))


Q124_SQL = f"""
WITH base AS (
  SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month, o_totalprice
  FROM orders),
first AS (SELECT o_custkey, MIN(month) AS cohort FROM base GROUP BY 1)
SELECT f.cohort, b.month,
       COUNT(DISTINCT b.o_custkey) AS n_active,
       {dsum_sql('b.o_totalprice')} AS revenue
FROM base b JOIN first f USING (o_custkey)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q125 — share-of-total + share shift (ratio_to_report family): each
# nation's yearly revenue share and its year-over-year share delta —
# a window SUM over the year partition for the denominator and a lag
# over the nation's year series for the shift. One exchange per
# window key; shares derive from exact decimal sums, so the doubles
# agree across engines.
# --------------------------------------------------------------------------

def q125_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    base = (o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                   o.o_custkey == F.col("c_custkey"))
             .groupBy(F.col("c_nationkey").alias("nationkey"),
                      F.year("o_orderdate").cast("int").alias("year"))
             .agg(dsum("o_totalprice").alias("revenue")))
    w_year = Window.partitionBy("year")
    w_nat = Window.partitionBy("nationkey").orderBy("year")
    share = F.round(F.col("revenue") / F.sum("revenue").over(w_year), 6)
    out = base.select("nationkey", "year", F.round("revenue", 4)
                      .alias("revenue"), share.alias("share"))
    return out.withColumn(
        "share_shift",
        rnd0(F.col("share") - F.lag("share").over(w_nat), 6))


Q125_SQL = f"""
WITH base AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(year(o.o_orderdate) AS INTEGER) AS year,
         {dsum_sql('o.o_totalprice')} AS revenue
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2),
s AS (
  SELECT nationkey, year, ROUND(revenue, 4) AS revenue,
         ROUND(revenue / SUM(revenue) OVER (PARTITION BY year), 6) AS share
  FROM base)
SELECT nationkey, year, revenue, share,
       {rnd0_sql("share - lag(share) OVER (PARTITION BY nationkey ORDER BY year)", 6)} AS share_shift
FROM s
"""


# --------------------------------------------------------------------------
# Q129 — order-independent table digest (replication reconciliation):
# per-status row count + sum of canonical-row hashes as an exact
# DECIMAL(38,0). Two replicas of a 100 TB table compare equal iff
# their digests match — no row-by-row diff, no ordering assumption
# (addition commutes), partial aggregation map-side, and the digest
# is md5-derived so ANY engine holding the same rows derives the same
# number (the oracle is literally the second engine here). Canonical
# forms are pinned per type (decimal-quantized doubles, fixed date
# format) — the same discipline as operators.profile.
# --------------------------------------------------------------------------

def q129_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_hash60
    o = read_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(38,4)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"))
    return (o.groupBy("o_orderstatus")
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(portable_hash60(canon).cast("decimal(38,0)"))
                   .cast("decimal(38,0)").cast("string").alias("digest")))


Q129_SQL = """
WITH canon AS (
  SELECT o_orderstatus,
         concat_ws('|',
           CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
           o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR),
           strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority) AS c
  FROM orders)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(c), 1, 15)) AS BIGINT)
                          AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         AS digest
FROM canon GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Q111 — explicit GROUPING SETS (completing the lattice family: q26 is
# ROLLUP, q52 is CUBE): exactly the grains a report needs — by status,
# by priority, and the grand total — WITHOUT the cross grains a CUBE
# would also compute. One Expand (3 replicas) + one aggregation;
# grouping_id disambiguates the all-null grain from genuine nulls.
# --------------------------------------------------------------------------

def q111_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (o.groupingSets([["o_orderstatus"], ["o_orderpriority"], []],
                           "o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(dsum("o_totalprice"), 4).alias("total"),
                  F.grouping_id().alias("gid")))


Q111_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND({dsum_sql('o_totalprice')}, 4) AS total,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# Q112 — bounded PRIOR-rows window frame (ROWS BETWEEN -5 AND -1):
# each order compared against the mean of the SAME customer's previous
# five orders — the self-excluding peer baseline (q79's RANGE frame is
# time-bounded and includes current; this is the count-bounded,
# current-row-excluded form). Entity-keyed partitioning, one exchange.
# --------------------------------------------------------------------------

def q112_vs_prior_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
               .orderBy("o_orderdate", "o_orderkey")
               .rowsBetween(-5, -1))
    prior_avg = (F.sum(dec("o_totalprice")).over(w).cast("double")
                 / F.count(F.lit(1)).over(w))
    # rnd0: with duplicated order histories (scaled/replicated data) a
    # prior-window average lands EXACTLY on the current price, and the
    # tiny negative residual rounds to -0.0 in one engine and 0.0 in
    # the other — surfaced by the sf1 gate; +0.0 canonicalizes.
    return (o.select("o_orderkey", "o_custkey",
                     F.count(F.lit(1)).over(w).alias("n_prior"),
                     rnd0(prior_avg, 4).alias("prior_avg"),
                     rnd0(F.col("o_totalprice")
                          - F.coalesce(prior_avg, F.lit(0.0)), 4)
                      .alias("delta_vs_prior"))
             .filter(F.col("n_prior") > 0))


Q112_SQL = """
WITH w AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         COUNT(*) OVER win AS n_prior,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER win AS DOUBLE)
           / COUNT(*) OVER win AS prior_avg
  FROM orders
  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
)
SELECT o_orderkey, o_custkey, n_prior,
       ROUND(prior_avg, 4) + 0.0 AS prior_avg,
       ROUND(o_totalprice - COALESCE(prior_avg, 0.0), 4) + 0.0
         AS delta_vs_prior
FROM w WHERE n_prior > 0
"""


# --------------------------------------------------------------------------
# Q113 — clamped running balance (stock level that can't go negative):
# returns restock (+qty), shipments draw down (−qty), floored at 0 per
# supplier. The clamp makes the fold NON-associative, so it looks like
# it needs a per-row sequential loop — but the classical identity
#   clamped_i = prefix_i − min(0, min_{j≤i} prefix_j)
# rewrites it as two ordinary running windows (sum + min) over the
# same entity-keyed sort: one exchange, codegen'd, parallel per
# supplier. (The same trick linearizes any max(0, ·) fold.)
# --------------------------------------------------------------------------

def q113_stock_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    signed = F.when(F.col("l_returnflag") == "R", F.col("l_quantity")) \
              .otherwise(-F.col("l_quantity"))
    # testdata carries duplicate (orderkey, linenumber) pairs: the sort
    # must be TOTAL or per-row prefixes become tie-order-dependent when
    # duplicates differ in quantity/flag (the multiset of balances would
    # vary across partitionings). returnflag+quantity complete the order;
    # rows still tying are identical in d, so their balances are
    # interchangeable.
    w = (Window.partitionBy("l_suppkey")
               .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
                        "l_quantity")
               .rowsBetween(Window.unboundedPreceding, 0))
    base = li.select("l_suppkey", "l_orderkey", "l_linenumber",
                     "l_returnflag", "l_quantity",
                     dec(signed).alias("_d"))
    # two stacked running windows over the SAME sort (nested window
    # functions are illegal; the second select reuses the first's
    # exchange+sort — one shuffle total, pinned below in plan tests)
    with_prefix = base.select("l_suppkey", "l_orderkey", "l_linenumber",
                              "l_returnflag", "l_quantity",
                              F.sum("_d").over(w).alias("_prefix"))
    run_min = F.least(F.lit(0).cast("decimal(18,4)"),
                      F.min("_prefix").over(w))
    return (with_prefix
            .select("l_suppkey", "l_orderkey", "l_linenumber",
                    (F.col("_prefix") - run_min).cast("double")
                     .alias("balance"))
            .filter(F.col("balance") > 200.0))


Q113_SQL = """
WITH b AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_returnflag, l_quantity,
         CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
                   ELSE -l_quantity END AS DECIMAL(18,4)) AS d
  FROM lineitem
), p AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_returnflag, l_quantity,
         SUM(d) OVER (PARTITION BY l_suppkey
                      ORDER BY l_orderkey, l_linenumber, l_returnflag,
                               l_quantity
                      ROWS UNBOUNDED PRECEDING) AS prefix
  FROM b
), w AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_returnflag, l_quantity,
         prefix,
         LEAST(CAST(0 AS DECIMAL(18,4)),
               MIN(prefix) OVER (PARTITION BY l_suppkey
                                 ORDER BY l_orderkey, l_linenumber,
                                          l_returnflag, l_quantity
                                 ROWS UNBOUNDED PRECEDING)) AS run_min
  FROM p
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(prefix - run_min AS DOUBLE) AS balance
FROM w WHERE CAST(prefix - run_min AS DOUBLE) > 200.0
"""


# --------------------------------------------------------------------------
# Q114 — gaps-and-islands: longest consecutive-day activity streak per
# user, via the date-minus-rank trick (consecutive days share
# date − row_number, so each island collapses to one group key — no
# self-join, no iterative chaining; the sessionize cousin for DISCRETE
# grids). Shape: dedupe to user-days (the only corpus-sized shuffle),
# entity-keyed rank window, two bounded aggregations.
# --------------------------------------------------------------------------

def q114_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = ud.withColumn(
        "_island", F.date_sub("d", F.row_number().over(w)))
    streaks = (islands.groupBy("user_id", "_island")
                      .agg(F.count(F.lit(1)).alias("len"),
                           F.min("d").alias("start_d")))
    pair = F.struct(F.col("len"), F.col("start_d"))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("longest_streak"),
                 F.max_by("start_d", pair).cast("string")
                  .alias("streak_start"),
                 F.count(F.lit(1)).alias("n_streaks")))


Q114_SQL = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM ud
),
st AS (
  SELECT user_id, island, COUNT(*) AS len, MIN(d) AS start_d
  FROM isl GROUP BY user_id, island
),
rk AS (
  SELECT user_id, len, start_d,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_d DESC) AS r,
         COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
  FROM st
)
SELECT user_id, len AS longest_streak,
       strftime(start_d, '%Y-%m-%d') AS streak_start,
       n_streaks
FROM rk WHERE r = 1
"""


# --------------------------------------------------------------------------
# Q90 — referential-integrity audit across the warehouse: orphan
# counts and coverage per FK relationship (lineitem→orders,
# orders→customer, customer→nation) — the cross-TABLE quality gate the
# reference's per-row rule extracts (P5/P6, q10) never check. Each
# relationship is one left-anti-shaped aggregate: count rows whose key
# has no parent; parents aggregate to distinct keys first so the join
# probes a small build.
# --------------------------------------------------------------------------

def q90_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")

    def audit(child: DataFrame, fk: str, parent: DataFrame, pk: str,
              rel: str) -> DataFrame:
        parents = parent.select(F.col(pk).alias("_pk")).distinct()
        orphans = (child.join(parents, child[fk] == F.col("_pk"),
                              "left_anti")
                        .groupBy().agg(F.count(F.lit(1)).alias("n_orphans")))
        total = child.groupBy().agg(F.count(F.lit(1)).alias("n_rows"))
        # A global COUNT over an empty child still yields one row; an
        # audit of a table with no rows is vacuous, so drop it — this
        # also keeps the no-rows-from-nothing property every other
        # query in the registry satisfies.
        return (total.crossJoin(orphans)
                     .filter(F.col("n_rows") > 0)
                     .select(F.lit(rel).alias("relationship"),
                             "n_rows", "n_orphans",
                             F.round((F.col("n_rows") - F.col("n_orphans"))
                                     / F.col("n_rows"), 6).alias("coverage")))

    return (audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
            .unionByName(audit(o, "o_custkey", c, "c_custkey",
                               "orders->customer"))
            .unionByName(audit(c, "c_nationkey", n, "n_nationkey",
                               "customer->nation")))


Q90_SQL = """
SELECT 'lineitem->orders' AS relationship,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_orphans,
       ROUND((COUNT(*) - SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END))
             / COUNT(*), 6) AS coverage
FROM lineitem li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON li.l_orderkey = o.o_orderkey
HAVING COUNT(*) > 0
UNION ALL
SELECT 'orders->customer',
       COUNT(*),
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       ROUND((COUNT(*) - SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END))
             / COUNT(*), 6)
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
HAVING COUNT(*) > 0
UNION ALL
SELECT 'customer->nation',
       COUNT(*),
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       ROUND((COUNT(*) - SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END))
             / COUNT(*), 6)
FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
  ON c.c_nationkey = n.n_nationkey
HAVING COUNT(*) > 0
"""


# --------------------------------------------------------------------------
# Q89 — grouped-aggregate pandas UDAF surface (SURVEY §2.9): exact
# per-priority median via operators.udx.median_udaf — the whole group
# streams into the UDF as one Arrow batch, np.median sorts so the
# answer is shuffle-order-independent, and the oracle's
# quantile_cont(0.5) must agree exactly. (SQL and pandas aggregates
# can't mix in one agg, so the query is the single UDAF column.)
# --------------------------------------------------------------------------

def q89_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.udx import median_udaf
    o = read_table(spark, sf_dir, "orders")
    med = median_udaf()
    return (o.groupBy("o_orderpriority")
             .agg(med("o_totalprice").alias("_m"))
             .select("o_orderpriority",
                     F.round("_m", 4).alias("median_total")))


Q89_SQL = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_total
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q87 — behavior-path analysis: each user's full ordered event-type
# sequence as a path string, ranked by popularity — the "top user
# journeys" dashboard query. Per-user collect is bounded by a user's
# OWN event count (the per-entity bound sessionization also relies
# on); a 100 TB variant caps the path length with slice() after the
# sort. Deterministic total order inside each path via (ts, event_id).
# --------------------------------------------------------------------------

def q87_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import top_n_global
    ev = read_table(spark, sf_dir, "events")
    seq = (ev.groupBy("user_id")
             .agg(F.array_sort(F.collect_list(
                 F.struct("ts", "event_id", "event_type"))).alias("_s")))
    path = F.concat_ws(
        ">", F.transform("_s", lambda x: x["event_type"])).alias("path")
    counts = (seq.select(path)
                 .groupBy("path")
                 .agg(F.count(F.lit(1)).alias("n_users")))
    return top_n_global(counts,
                        [F.col("n_users").desc(), F.col("path")], 10)


Q87_SQL = """
WITH paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
), counts AS (
  SELECT path, COUNT(*) AS n_users FROM paths GROUP BY path
)
SELECT path, n_users
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_users DESC, path) AS rn
      FROM counts)
WHERE rn <= 10
"""


# --------------------------------------------------------------------------
# Q83 — salted fact×profile enrichment (operators.skew.salted_join):
# the hot-key shuffle-join repair AQE can't always make (build side too
# big to broadcast). The salt subdivides each key's rows across
# reducers and the build replicates n_salt ways; the PLAIN-join oracle
# hash-match proves salting changes the shuffle layout and nothing
# else — the q55 exactness proof, for joins. (At this SF nothing is
# actually hot; the query certifies SEMANTICS so the operator can be
# dropped onto a genuinely skewed key unchanged.)
# --------------------------------------------------------------------------

def q83_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join
    ev = read_table(spark, sf_dir, "events")
    profile = (ev.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      dsum("value").alias("user_value")))
    fact = ev.select("event_id", "user_id", "event_type")
    j = salted_join(fact, profile, ["user_id"], n_salt=8, how="inner")
    return j.select("event_id", "user_id", "event_type",
                    "n_events", "user_value")


Q83_SQL = f"""
WITH profile AS (
  SELECT user_id, COUNT(*) AS n_events,
         {dsum_sql('value')} AS user_value
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.event_type, p.n_events, p.user_value
FROM events e JOIN profile p ON e.user_id = p.user_id
"""


# --------------------------------------------------------------------------
# Q91 — calendar densification (gap fill + LOCF): per event type, one
# row per day between that type's first and last activity, with absent
# days filled as zero counts and the daily mean value carried forward
# from the last active day. The missing-row problem every reporting
# layer hits (the reference's Streamlit trends silently skip empty
# days — streamlit/go_streamlit.py:455-470 plots whatever dates
# exist). Scale shape: the calendar explode happens AFTER aggregation
# (5 types × bounded day range, never one row per raw event), and the
# LOCF window runs over that aggregated frame — both sides are
# calendar-sized, not data-sized.
# --------------------------------------------------------------------------

def q91_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("d"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    davg("value").alias("avg_value")))
    spans = (daily.groupBy("event_type")
                  .agg(F.min("d").alias("d0"), F.max("d").alias("d1")))
    calendar = spans.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"))
    w = (Window.partitionBy("event_type").orderBy("d")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (calendar.join(daily, ["event_type", "d"], "left")
            .select("event_type",
                    F.col("d").cast("string").alias("day"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.round(F.last("avg_value", ignorenulls=True).over(w), 6)
                     .alias("avg_value_locf")))


Q91_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_events,
         {davg} AS avg_value
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
cal AS (
  SELECT event_type,
         CAST(unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))
              AS DATE) AS d
  FROM daily GROUP BY event_type
)
SELECT c.event_type, strftime(c.d, '%Y-%m-%d') AS day,
       COALESCE(dl.n_events, 0) AS n_events,
       ROUND(last_value(dl.avg_value IGNORE NULLS) OVER (
         PARTITION BY c.event_type ORDER BY c.d
         ROWS UNBOUNDED PRECEDING), 6) AS avg_value_locf
FROM cal c LEFT JOIN daily dl
  ON c.event_type = dl.event_type AND c.d = dl.d
""".format(davg=davg_sql("value"))


# --------------------------------------------------------------------------
# Q92 — unpivot/melt (wide→long): lineitem's four numeric measures
# rotated into (measure, value) rows, then profiled per measure — the
# inverse of q49's pivot, closing the reshape surface. Spark's native
# unpivot is a zero-shuffle Expand (4× rows map-side), so the only
# exchange is the final 4-group aggregate.
# --------------------------------------------------------------------------

def q92_measure_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure", valueColumnName="value")
    return (long.groupBy("measure")
                .agg(F.count("value").alias("n"),
                     dsum("value").alias("total"),
                     F.round(F.min("value"), 4).alias("min_value"),
                     F.round(F.max("value"), 4).alias("max_value"))
                .withColumn("total", F.round("total", 4)))


Q92_SQL = f"""
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure, COUNT(value) AS n,
       ROUND({dsum_sql('value')}, 4) AS total,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM long GROUP BY measure
"""


# --------------------------------------------------------------------------
# Q93 — sweep-line interval concurrency: peak number of simultaneously
# open orders per priority, where an order is open from o_orderdate to
# the last l_shipdate of its lines. The classic overlap-counting
# problem solved without ever materializing overlaps: each interval
# becomes a +1/-1 endpoint delta, deltas aggregate per (priority, day),
# and a running sum over the aggregated day series yields concurrency.
# Scale shape: the window runs on the calendar-sized per-day frame
# (post-aggregation), never the raw fact; no self-join, no explosion.
# --------------------------------------------------------------------------

def q93_peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_d"))
    spans = (o.join(close, o["o_orderkey"] == close["l_orderkey"], "inner")
              .select("o_orderpriority",
                      F.to_date("o_orderdate").alias("open_d"), "close_d")
              .filter(F.col("close_d") >= F.col("open_d")))
    deltas = (spans.select("o_orderpriority",
                           F.col("open_d").alias("d"),
                           F.lit(1).alias("delta"))
                   .unionByName(
                       spans.select("o_orderpriority",
                                    F.date_add("close_d", 1).alias("d"),
                                    F.lit(-1).alias("delta")))
                   .groupBy("o_orderpriority", "d")
                   .agg(F.sum("delta").alias("net")))
    w = (Window.partitionBy("o_orderpriority").orderBy("d")
               .rowsBetween(Window.unboundedPreceding, 0))
    conc = (deltas.withColumn("open_orders", F.sum("net").over(w))
                  .withColumn("peak", F.max("open_orders").over(
                      Window.partitionBy("o_orderpriority"))))
    return (conc.groupBy("o_orderpriority")
                .agg(F.max("open_orders").alias("peak_open"),
                     F.min(F.when(F.col("open_orders") == F.col("peak"),
                                  F.col("d"))).cast("string")
                      .alias("first_peak_day")))


Q93_SQL = """
WITH close AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_d
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT o.o_orderpriority, CAST(o.o_orderdate AS DATE) AS open_d, c.close_d
  FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
  WHERE c.close_d >= CAST(o.o_orderdate AS DATE)
),
deltas AS (
  SELECT o_orderpriority, d, SUM(delta) AS net FROM (
    SELECT o_orderpriority, open_d AS d, 1 AS delta FROM spans
    UNION ALL
    SELECT o_orderpriority, close_d + INTERVAL 1 DAY, -1 FROM spans
  ) GROUP BY o_orderpriority, d
),
conc AS (
  SELECT o_orderpriority, d,
         CAST(SUM(net) OVER (PARTITION BY o_orderpriority ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS open_orders
  FROM deltas
)
SELECT o_orderpriority,
       MAX(open_orders) AS peak_open,
       strftime(MIN(CASE WHEN open_orders = peak THEN d END),
                '%Y-%m-%d') AS first_peak_day
FROM (SELECT *, MAX(open_orders)
                OVER (PARTITION BY o_orderpriority) AS peak
      FROM conc)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q94 — argmax/argmin aggregate surface (max_by/min_by): per order
# status, the most and least common priority — one pre-count plus one
# argmax aggregation instead of the rank-and-filter window detour.
# Ties break deterministically through struct ordering ((count,
# priority) lexicographic), so the answer is partitioning-independent.
# --------------------------------------------------------------------------

def q94_priority_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
               .agg(F.count(F.lit(1)).alias("cnt")))
    pair = F.struct(F.col("cnt"), F.col("o_orderpriority"))
    return (counts.groupBy("o_orderstatus")
                  .agg(F.max_by("o_orderpriority", pair).alias("top_priority"),
                       F.max("cnt").alias("top_cnt"),
                       F.min_by("o_orderpriority", pair).alias("rare_priority"),
                       F.min("cnt").alias("rare_cnt")))


Q94_SQL = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority DESC) AS rhi,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt ASC, o_orderpriority ASC) AS rlo
  FROM counts
)
SELECT o_orderstatus,
       MAX(CASE WHEN rhi = 1 THEN o_orderpriority END) AS top_priority,
       MAX(cnt) AS top_cnt,
       MAX(CASE WHEN rlo = 1 THEN o_orderpriority END) AS rare_priority,
       MIN(cnt) AS rare_cnt
FROM ranked GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Q95 — rolling 7-day distinct users per day (sliding-window COUNT
# DISTINCT): the one windowed aggregate that does NOT decompose into
# partial aggregation, so the naive forms (collect_set over a window,
# or a day×day range self-join) die at scale. The scalable shape:
# dedupe to user-days first (the only big shuffle), then each user-day
# contributes to exactly 7 calendar days via a bounded explode, and a
# second distinct-agg per (day, user) collapses multi-day users.
# Shuffle volume is 7× user-days — linear, skew-free, exact.
# --------------------------------------------------------------------------

def q95_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    user_days = (ev.select("user_id", F.to_date("ts").alias("d"))
                   .distinct())
    span = user_days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"))
    return (contrib.join(F.broadcast(span),
                         (F.col("day") >= F.col("d0"))
                         & (F.col("day") <= F.col("d1")), "inner")
                   .groupBy("day")
                   .agg(F.countDistinct("user_id").alias("active_7d"))
                   .select(F.col("day").cast("string").alias("day"),
                           "active_7d"))


Q95_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
contrib AS (
  SELECT user_id,
         CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
)
SELECT strftime(c.day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT c.user_id) AS active_7d
FROM contrib c, span s
WHERE c.day BETWEEN s.d0 AND s.d1
GROUP BY c.day
"""


# --------------------------------------------------------------------------
# Q96 — exact COUNT(DISTINCT) via bitmap aggregation: users bucket
# into 32k-bit bitmaps (bitmap_bucket_number / bitmap_bit_position),
# partial bitmaps OR-merge per group, and popcounts sum. Unlike the
# COUNT(DISTINCT) Expand (which shuffles every distinct value to one
# reducer per group), bitmap partials combine map-side and the shuffle
# carries fixed-size 4 KB pages — the exact-distinct idiom for 100 TB
# fact tables with dense integer keys. Hash-match vs a plain
# COUNT(DISTINCT) oracle proves exactness.
# --------------------------------------------------------------------------

def q96_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pages = (ev.select("event_type", F.col("user_id").alias("u"))
               .groupBy("event_type",
                        F.bitmap_bucket_number("u").alias("bucket"))
               .agg(F.bitmap_construct_agg(F.bitmap_bit_position("u"))
                     .alias("page")))
    return (pages.groupBy("event_type")
                 .agg(F.sum(F.bitmap_count("page")).alias("distinct_users")))


Q96_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Q97 — one-pass table profiling (operators.profile.profile_table):
# per-column nulls / exact NDV / min-max in a single job, replacing
# the reference EDA notebook's one-driver-pass-per-column describe()
# loop. Exact NDV comes from a two-level (column, value) aggregation —
# no COUNT(DISTINCT) Expand, no per-column job storm.
# --------------------------------------------------------------------------

def q97_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table
    return profile_table(read_table(spark, sf_dir, "orders"))


def _profile_col_sql(name: str, canon: str) -> str:
    return f"""
SELECT '{name}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({canon}) AS n_nulls,
       COUNT(DISTINCT {canon}) AS n_distinct,
       MIN({canon}) AS min_value, MAX({canon}) AS max_value
FROM orders"""


Q97_SQL = "\nUNION ALL".join([
    _profile_col_sql("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    _profile_col_sql("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    _profile_col_sql("o_orderstatus", "o_orderstatus"),
    _profile_col_sql("o_totalprice",
                     "CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR)"),
    _profile_col_sql("o_orderdate",
                     "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"),
    _profile_col_sql("o_orderpriority", "o_orderpriority"),
])


# --------------------------------------------------------------------------
# Q98 — heavy-hitter audit: top-3 most frequent values per profiled
# column with their frequency share — the skew diagnosis a 100 TB
# operator runs before choosing join/salt strategies (a key taking
# >20% of a column is a salting candidate). Same two-level
# (column, value) aggregation as q97; the top-k is a per-column
# WindowGroupLimit over value counts, never a global sort.
# --------------------------------------------------------------------------

def q98_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    long = o.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col(c).cast("string").alias("v")) for c in cols
    ])).alias("s")).select("s.column_name", "s.v")
    counts = (long.groupBy("column_name", "v")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.partitionBy("column_name")
               .orderBy(F.desc("cnt"), F.asc("v")))
    totals = (counts.groupBy("column_name")
                    .agg(F.sum("cnt").alias("total")))
    return (counts.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= 3)
                  .join(totals, "column_name")
                  .select("column_name", F.col("v").alias("value"),
                          "cnt",
                          F.round(F.col("cnt") / F.col("total"), 6)
                           .alias("share"),
                          "rk"))


Q98_SQL = """
WITH long AS (
  SELECT 'o_orderstatus' AS column_name,
         CAST(o_orderstatus AS VARCHAR) AS v FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
),
counts AS (
  SELECT column_name, v, COUNT(*) AS cnt
  FROM long GROUP BY column_name, v
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY column_name
                               ORDER BY cnt DESC, v ASC) AS rk,
         SUM(cnt) OVER (PARTITION BY column_name) AS total
  FROM counts
)
SELECT column_name, v AS value, cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share, rk
FROM ranked WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# Q99 — distribution-window surface (percent_rank / cume_dist): where
# each customer's total spend sits within their nation's distribution,
# bucketed to a decile summary. Completes the analytic-window family
# (lag q05, ntile q43, lead/first_value/dense_rank q51, RANGE frames
# q79): the window partitions on nation (parallel), and the output
# aggregates to nation×decile so the result is bounded.
# --------------------------------------------------------------------------

def q99_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    spend = (o.groupBy("o_custkey")
              .agg(dsum("o_totalprice").alias("spend")))
    cn = c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("spend", "o_custkey")
    ranked = (spend.join(cn, "o_custkey")
                   .select("c_nationkey", "o_custkey", "spend",
                           F.percent_rank().over(w).alias("pr"),
                           F.cume_dist().over(w).alias("cd")))
    return (ranked.groupBy("c_nationkey",
                           F.least(F.floor(F.col("pr") * 10),
                                   F.lit(9)).alias("decile"))
                  .agg(F.count(F.lit(1)).alias("n_customers"),
                       F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
                       F.round(F.max("spend"), 4).alias("max_spend")))


Q99_SQL = f"""
WITH spend AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c.c_nationkey, s.o_custkey, s.spend,
         percent_rank() OVER (PARTITION BY c.c_nationkey
                              ORDER BY s.spend, s.o_custkey) AS pr,
         cume_dist() OVER (PARTITION BY c.c_nationkey
                           ORDER BY s.spend, s.o_custkey) AS cd
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
)
SELECT c_nationkey,
       LEAST(CAST(floor(pr * 10) AS BIGINT), 9) AS decile,
       COUNT(*) AS n_customers,
       ROUND(AVG(cd), 6) AS avg_cume_dist,
       ROUND(MAX(spend), 4) AS max_spend
FROM ranked GROUP BY c_nationkey, decile
"""


# --------------------------------------------------------------------------
# Q101 — statistical aggregate surface (corr / covar / OLS regression):
# per return-flag, how line price moves with quantity — Pearson
# correlation, sample covariance, and the least-squares fit
# (slope/intercept/R²) in ONE aggregation pass. Spark's regr_* /
# corr aggregates are distributed co-moment merges (partial-aggregable,
# one shuffle of 6 moments per group — never a collect or a second
# pass); rnd0 canonicalizes the float forms for the cross-engine gate.
# --------------------------------------------------------------------------

def q101_price_qty_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return (li.groupBy("l_returnflag")
              .agg(F.count(F.lit(1)).alias("n"),
                   rnd0(F.corr(x, y), 6).alias("corr_qty_price"),
                   rnd0(F.covar_samp(x, y) / 1000.0, 4).alias("covar_k"),
                   rnd0(F.regr_slope(y, x), 4).alias("slope"),
                   rnd0(F.regr_intercept(y, x), 4).alias("intercept"),
                   rnd0(F.regr_r2(y, x), 6).alias("r2")))


Q101_SQL = """
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice) / 1000.0, 4) + 0.0
         AS covar_k,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0
         AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) + 0.0 AS r2
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Q102 — fixed-width histogram: order-value distribution per order
# status, 20 bins of 25k. One aggregation over a computed bin key —
# the at-scale histogram shape (bin count bounded, no sort, no
# per-bin scan); clamp keeps outliers in the top bin so bins partition
# the data exactly.
# --------------------------------------------------------------------------

def q102_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    binw, nbins = 25_000.0, 20
    bin_ = F.least(F.floor(F.col("o_totalprice") / binw),
                   F.lit(nbins - 1)).cast("long")
    return (o.groupBy("o_orderstatus", bin_.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  dsum("o_totalprice").alias("bin_total"))
             .select("o_orderstatus", "bin",
                     (F.col("bin") * binw).alias("bin_lo"),
                     "n_orders", F.round("bin_total", 4).alias("bin_total")))


Q102_SQL = f"""
SELECT o_orderstatus,
       LEAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) AS bin,
       LEAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) * 25000.0
         AS bin_lo,
       COUNT(*) AS n_orders,
       ROUND({dsum_sql('o_totalprice')}, 4) AS bin_total
FROM orders GROUP BY o_orderstatus, bin
"""


# --------------------------------------------------------------------------
# Q104 — co-occurrence / association lift between event types: for
# each unordered pair, how much more often do both appear for the same
# user than independence predicts. The market-basket shape: dedupe to
# (user, type) first — the only corpus-sized shuffle — then the pair
# self-join runs on the deduped table with type-diverse keys, and the
# pair space is |types|², not users². Lift from broadcast scalar
# totals, no second scan.
# --------------------------------------------------------------------------

def q104_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tot = ut.agg(F.countDistinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (a.join(b, "user_id")
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_both")))
    na = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n").alias("n_a"))
    nb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n").alias("n_b"))
    return (both.join(F.broadcast(na), "type_a")
                .join(F.broadcast(nb), "type_b")
                .crossJoin(F.broadcast(tot))   # 1-row scalar, q04 idiom
                .select("type_a", "type_b", "n_both",
                        F.round(F.col("n_both")
                                * F.col("n_users").cast("double")
                                / (F.col("n_a") * F.col("n_b")), 6)
                         .alias("lift")))


Q104_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
per_type AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
pair_n AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_both,
       ROUND(n_both * CAST(t.n_users AS DOUBLE) / (na.n * nb.n), 6) AS lift
FROM pair_n
JOIN per_type na ON pair_n.type_a = na.event_type
JOIN per_type nb ON pair_n.type_b = nb.event_type
CROSS JOIN tot t
"""


# --------------------------------------------------------------------------
# Q105 — behavior transition matrix (first-order Markov): counts and
# row-normalized probabilities of consecutive event-type transitions
# per user stream. One lag window partitioned by user (parallel,
# entity-keyed — never a global sort) feeds one aggregation; the
# normalizing row totals come from a window over the |types|²-bounded
# aggregate, not the fact.
# --------------------------------------------------------------------------

def q105_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (ev.select("user_id", "event_id", "ts", "event_type")
               .withColumn("prev_type", F.lag("event_type").over(w))
               .filter(F.col("prev_type").isNotNull()))
    counts = (steps.groupBy(F.col("prev_type").alias("from_type"),
                            F.col("event_type").alias("to_type"))
                   .agg(F.count(F.lit(1)).alias("n")))
    row_tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(row_tot), 6).alias("p"))


Q105_SQL = """
WITH steps AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts
"""


SPECS = [
    QuerySpec("q01_line_revenue", q01_line_revenue, Q01_SQL,
              "F6 revenue projection"),
    QuerySpec("q02_clv", q02_clv, Q02_SQL, "A1 multi-key hash agg"),
    QuerySpec("q03_clv_tiered", q03_clv_tiered, Q03_SQL,
              "A3 grouped percentiles + J3 broadcast join + F5 tags"),
    QuerySpec("q04_rfm_segments", q04_rfm_segments, Q04_SQL,
              "A2 snapshot agg + F5 segments"),
    QuerySpec("q05_customer_profile", q05_customer_profile, Q05_SQL,
              "W2/W3 lags + activity tags"),
    QuerySpec("q06_trend_daily", q06_trend_daily, _trend_sql("day", True),
              "A4 daily rollup"),
    QuerySpec("q06_trend_weekly", q06_trend_weekly, _trend_sql("week", False),
              "A4 weekly rollup (B10-fixed week starts)"),
    QuerySpec("q06_trend_monthly", q06_trend_monthly, _trend_sql("month", False),
              "A4 monthly rollup"),
    QuerySpec("q06_trend_hourly", q06_trend_hourly, Q06_HOURLY_SQL,
              "A4 hourly rollup on the events stream table"),
    QuerySpec("q07_loyalty_impact", q07_loyalty_impact, Q07_SQL,
              "A5 two-level agg"),
    QuerySpec("q08_top_locations", q08_top_locations, Q08_SQL,
              "A6 countDistinct + ratio + W4 rank"),
    QuerySpec("q09_discount_effect", q09_discount_effect, Q09_SQL,
              "A7 flag-split agg"),
    QuerySpec("q10_quality_gate", q10_quality_gate, Q10_SQL,
              "P5/P6 rule extracts as audit rollup"),
    QuerySpec("q11_transform_clean", q11_transform_clean, Q11_SQL,
              "U1-U4 regex stack, native expressions"),
    QuerySpec("q12_incr_dedupe", q12_incr_dedupe, Q12_SQL,
              "W1 dedupe-keep-latest"),
    QuerySpec("q16_iqr_outliers", q16_iqr_outliers, Q16_SQL,
              "A10 grouped-IQR outlier flagger"),
    QuerySpec("q23_json_props", q23_json_props, Q23_SQL,
              "JSON extraction surface"),
    QuerySpec("q26_trend_rollup", q26_trend_rollup, Q26_SQL,
              "A4 as ONE grouping-sets aggregation (year/month ROLLUP)"),
    QuerySpec("q27_surrogate_keys", q27_surrogate_keys, Q27_SQL,
              "F15 sha256 surrogate key projection"),
    QuerySpec("q29_stream_hourly", q29_stream_hourly, Q06_HOURLY_SQL,
              "T1/A4 as Structured Streaming (AvailableNow, windowed state)",
              runs_at_build="stream"),
    QuerySpec("q129_table_digest", q129_table_digest, Q129_SQL,
              "order-independent canonical-row digest for replica "
              "reconciliation (exact decimal hash sums)"),
    QuerySpec("q123_basket_affinity", q123_basket_affinity, Q123_SQL,
              "co-purchase lift over top-K parts (bounded pair "
              "fan-out via broadcast semi-filter); build runs the "
              "checkpointed basket's shuffle stage", runs_at_build="jobs"),
    QuerySpec("q124_cohort_ltv", q124_cohort_ltv, Q124_SQL,
              "cohort-month x activity-month revenue triangle"),
    QuerySpec("q125_share_shift", q125_share_shift, Q125_SQL,
              "yearly revenue share per nation + YoY share delta"),
    QuerySpec("q121_unpivot", q121_unpivot, Q121_SQL,
              "native unpivot/melt of the pivoted matrix; round trip "
              "equals the direct long-form aggregation"),
    QuerySpec("q122_percentile_rank", q122_percentile_rank, Q122_SQL,
              "percent_rank + cume_dist relative standing per nation"),
    QuerySpec("q120_histogram_quantiles", q120_histogram_quantiles,
              Q120_SQL,
              "mergeable equi-width histogram quantiles; interpolation "
              "oracle-replayed bit-for-bit"),
    QuerySpec("q117_stream_append_rollup", q117_stream_append_rollup,
              Q117_SQL,
              "APPEND-mode watermarked rollup: emitted set == windows "
              "closed by the final watermark (eviction semantics "
              "oracle-certified, not the complete-mode bridge)",
              runs_at_build="stream"),
    QuerySpec("q32_threshold_severity", q32_threshold_severity, Q32_SQL,
              "U5 broadcast threshold severity with derived rule table"),
    QuerySpec("q33_top_customers_per_nation", q33_top_customers_per_nation,
              Q33_SQL, "O1/J4 serving-layer top-N per key"),
    QuerySpec("q34_sessionize", q34_sessionize, Q34_SQL,
              "inactivity-gap sessionization (batch twin of session windows)"),
    QuerySpec("q35_stream_sessions", q35_stream_sessions, Q35_SQL,
              "stateful streaming sessionization (applyInPandasWithState)",
              runs_at_build="stream"),
    QuerySpec("q36_top_locations_approx", q36_top_locations_approx, None,
              "A6/W4 at scale: HLL distinct sketch + orderBy-limit top-N "
              "(sketch values engine-specific; rows-only)"),
    QuerySpec("q37_calendar_join", q37_calendar_join, Q37_SQL,
              "J2 date-dimension broadcast join (dim generated in-engine)"),
    QuerySpec("q43_spend_quintiles", q43_spend_quintiles, Q43_SQL,
              "ntile ranking window: per-nation spend quintiles"),
    QuerySpec("q44_urgent_customers", q44_urgent_customers, Q44_SQL,
              "left-semi join (EXISTS) surface"),
    QuerySpec("q45_order_reconcile", q45_order_reconcile, Q45_SQL,
              "full-outer reconciliation with presence status"),
    QuerySpec("q46_repeat_customers", q46_repeat_customers, Q46_SQL,
              "INTERSECT set-op surface"),
    QuerySpec("q47_removed_lines", q47_removed_lines, Q47_SQL,
              "EXCEPT ALL multiset set-op (B6-fixed semantics, queryable)"),
    QuerySpec("q49_priority_pivot", q49_priority_pivot, Q49_SQL,
              "pivot crosstab with explicit values (one aggregation pass)"),
    QuerySpec("q50_stream_enrich", q50_stream_enrich, Q50_SQL,
              "stream-static broadcast enrichment join through the "
              "streaming runtime", runs_at_build="stream"),
    QuerySpec("q51_order_timeline", q51_order_timeline, Q51_SQL,
              "lead / first_value / dense_rank analytic windows, one "
              "exchange"),
    QuerySpec("q52_status_cube", q52_status_cube, Q52_SQL,
              "CUBE lattice with grouping_id (one Expand, one aggregation)"),
    QuerySpec("q53_stream_dedupe", q53_stream_dedupe, Q53_SQL,
              "dropDuplicatesWithinWatermark drained AvailableNow "
              "(state-evicting keyed dedupe; deterministic key set)",
              runs_at_build="stream"),
    QuerySpec("q54_stream_keep_latest", q54_stream_keep_latest, Q12_SQL,
              "streaming keep-latest dedupe: complete-mode max_by twin "
              "of batch q12, same oracle", runs_at_build="stream"),
    QuerySpec("q55_salted_distinct", q55_salted_distinct, Q55_SQL,
              "skew-proof exact COUNT(DISTINCT) via value-space salting "
              "(hash-match vs plain oracle proves exactness)"),
    QuerySpec("q65_stream_upsert", q65_stream_upsert, Q12_SQL,
              "foreachBatch CDC upsert: per-micro-batch merge into a "
              "bucketed keyed snapshot, same oracle as batch q12",
              runs_at_build="stream"),
    QuerySpec("q68_scd2", q68_scd2, Q68_SQL,
              "SCD type-2 history from the change feed (collapse-on-"
              "unchanged, lead-derived validity, one exchange)"),
    QuerySpec("q69_stream_sliding", q69_stream_sliding, Q69_SQL,
              "sliding-window streaming rollup (2h window / 1h slide; "
              "oracle replays the two-bucket window algebra)",
              runs_at_build="stream"),
    QuerySpec("q72_snapshot_diff", q72_snapshot_diff, Q72_SQL,
              "snapshot diff / CDC generation: minimal I/U/D feed from "
              "two keyed table states (one full-outer key shuffle)"),
    QuerySpec("q73_incremental_agg", q73_incremental_agg, Q73_SQL,
              "incremental view maintenance: CDC deltas merged into the "
              "aggregate state; hash-match proves IVM == full recompute"),
    QuerySpec("q74_stream_incremental_agg", q74_stream_incremental_agg,
              Q74_SQL,
              "streaming IVM via foreachBatch: per-batch deltas merged "
              "into a versioned aggregate snapshot, exactly-once under "
              "replay; 4 merges hash-match one full aggregation",
              runs_at_build="stream"),
    QuerySpec("q79_trailing_features", q79_trailing_features, Q79_SQL,
              "trailing 1h event-time features via RANGE window frame "
              "(time-bounded, burst-safe; decimal window sums)"),
    QuerySpec("q83_salted_enrich", q83_salted_enrich, Q83_SQL,
              "salted hot-key shuffle join vs plain-join oracle "
              "(hash-match proves salt-exactness for joins)"),
    QuerySpec("q84_anomaly_days", q84_anomaly_days, Q84_SQL,
              "robust (median+MAD) daily-revenue anomaly flagging "
              "per priority (exact percentiles, broadcast join-back)"),
    QuerySpec("q85_funnel", q85_funnel, Q85_SQL,
              "ordered conversion funnel: earliest view -> later click "
              "-> later purchase per user, stage depth per user"),
    QuerySpec("q86_retention", q86_retention, Q86_SQL,
              "weekly retention cohorts: distinct users per (first-seen "
              "week, activity week)"),
    QuerySpec("q87_top_paths", q87_top_paths, Q87_SQL,
              "behavior-path analysis: top-10 ordered event-type "
              "journeys by user count"),
    QuerySpec("q88_session_window", q88_session_window, Q88_SQL,
              "native session_window aggregation (dynamic-gap merge in "
              "the agg; oracle rebuilds sessions from lag+cumsum)"),
    QuerySpec("q89_median_udaf", q89_median_udaf, Q89_SQL,
              "grouped-agg pandas UDAF surface: exact median vs "
              "quantile_cont oracle"),
    QuerySpec("q90_fk_audit", q90_fk_audit, Q90_SQL,
              "referential-integrity audit: orphan counts + coverage "
              "per FK relationship (anti-join per relation)"),
    QuerySpec("q91_gap_fill", q91_gap_fill, Q91_SQL,
              "calendar densification: gap-filled daily series with "
              "last-observation-carried-forward (post-agg explode)"),
    QuerySpec("q92_measure_profile", q92_measure_profile, Q92_SQL,
              "unpivot/melt reshape surface: wide measures to long, "
              "profiled per measure"),
    QuerySpec("q93_peak_open_orders", q93_peak_open_orders, Q93_SQL,
              "sweep-line interval concurrency: peak open orders per "
              "priority without overlap materialization"),
    QuerySpec("q94_priority_argmax", q94_priority_argmax, Q94_SQL,
              "max_by/min_by argmax aggregates with deterministic "
              "struct tie-breaks"),
    QuerySpec("q95_rolling_active_users", q95_rolling_active_users, Q95_SQL,
              "sliding-window exact distinct (7-day rolling actives) "
              "via bounded user-day explode - no window collect_set, "
              "no range self-join"),
    QuerySpec("q96_bitmap_distinct", q96_bitmap_distinct, Q96_SQL,
              "exact COUNT(DISTINCT) through bitmap page aggregation "
              "(map-side OR-merge, fixed-size shuffle pages)"),
    QuerySpec("q97_table_profile", q97_table_profile, Q97_SQL,
              "one-pass table profiling: per-column nulls/exact NDV/"
              "min-max via two-level (column,value) aggregation"),
    QuerySpec("q98_heavy_hitters", q98_heavy_hitters, Q98_SQL,
              "heavy-hitter / skew audit: top-3 values per column with "
              "frequency share (WindowGroupLimit, no global sort)"),
    QuerySpec("q99_spend_percentiles", q99_spend_percentiles, Q99_SQL,
              "percent_rank/cume_dist distribution windows, decile "
              "summary per nation"),
    QuerySpec("q101_price_qty_regression", q101_price_qty_regression,
              Q101_SQL,
              "statistical aggregates: corr/covar/OLS regression per "
              "group in one co-moment pass"),
    QuerySpec("q102_price_histogram", q102_price_histogram, Q102_SQL,
              "fixed-width histogram via computed bin key (bounded "
              "bins, no sort)"),
    QuerySpec("q104_event_cooccurrence", q104_event_cooccurrence, Q104_SQL,
              "market-basket co-occurrence lift between event types "
              "(dedupe-first pair join, |types|^2 output)"),
    QuerySpec("q105_transition_matrix", q105_transition_matrix, Q105_SQL,
              "first-order Markov transition matrix over per-user "
              "event streams (entity-keyed lag window)"),
    QuerySpec("q106_stream_session_window", q106_stream_session_window,
              Q106_SQL,
              "native session-window state through the streaming "
              "runtime (watermarked append drain; inclusive emission "
              "boundary oracle-pinned)", runs_at_build="stream"),
    QuerySpec("q108_scd2_lookup", q108_scd2_lookup, Q108_SQL,
              "SCD2 point-in-time lookup: facts resolved against the "
              "dimension version in force (as-of form, no interval "
              "fan-out)"),
    QuerySpec("q109_debounce", q109_debounce, Q109_SQL,
              "debounce dedup: suppress repeats within 60s of the "
              "previous KEPT event (anchored chain fold, not plain "
              "lag)"),
    QuerySpec("q111_grouping_sets", q111_grouping_sets, Q111_SQL,
              "explicit GROUPING SETS (exact grains, one Expand) "
              "completing the ROLLUP/CUBE lattice family"),
    QuerySpec("q112_vs_prior_orders", q112_vs_prior_orders, Q112_SQL,
              "bounded prior-rows frame (ROWS -5..-1): self-excluding "
              "peer baseline per customer"),
    QuerySpec("q113_stock_balance", q113_stock_balance, Q113_SQL,
              "clamped running balance via the prefix-minus-running-"
              "min identity (non-associative fold as two windows)"),
    QuerySpec("q114_activity_streaks", q114_activity_streaks, Q114_SQL,
              "gaps-and-islands: longest consecutive-day streak via "
              "date-minus-rank island keys (no self-join)"),
]
