"""Driver-harness operator coverage (SURVEY.md §2 / __spark_entry__.py).

Every entry pairs a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB executes over the same parquet tables. Conventions that make the
driver's order-insensitive value-hash comparison stable:

- every computed column is aliased IDENTICALLY on both sides;
- floating aggregates are rounded to 4 decimals on both sides (sum order
  differs between engines at the ulp level);
- DuckDB integer SUM() returns HUGEINT -> always CAST(... AS BIGINT);
- every query has a deterministic row set (ties broken by key columns
  before any LIMIT).

Spark-first notes: dimension joins broadcast (small sides), aggregations
are partial+final hash aggs, filters/projections sit directly on the
parquet scan so pushdown + column pruning apply (SURVEY.md §4.1).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .queries_text import load, spread


# --------------------------------------------------------------------------
# Relational coverage over the star schema (SURVEY.md §2.2)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: scan-heavy filter + wide hash aggregation."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (broadcast dim) + agg + deterministic top-10.

    r6 join order (opt guide §3.1): the BUILDING-segment customer filter
    reduces orders FIRST (orders ⋈ broadcast(cust)), and lineitem probes
    that reduced side in a single hash join — vs the r1-r5 shape
    (li ⋈ orders, then ⋈ cust) where every lineitem row paid two probe
    passes against a build side 5x larger. Inner-join reorder only;
    result identical (verified equal at sf0.1 + the DuckDB oracle)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ord_red = orders.join(
        F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
        orders.o_custkey == cust.c_custkey,
    )
    return (
        li.join(ord_red, li.l_orderkey == ord_red.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


SQL_TOP_REVENUE = """
SELECT o_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H Q5 shape), r6 pre-aggregated form (opt guide
    §2.3 "aggregate before you shuffle"): lineitem partial-aggregates to
    one revenue row per l_orderkey BEFORE any join, so (a) the join probe
    volume drops 4x (150k order rows instead of 600k lineitems), and
    (b) COUNT(DISTINCT o_orderkey) degenerates to COUNT(*) — the expand-
    free form — because the frame is already unique per orderkey
    (o_orderkey is the orders primary key, unique by construction in the
    fixtures AND in TPC-H). The orderkey exchange gets map-side partial
    aggregation (~4 lineitems/order fold before the shuffle), replacing
    the r1-r5 plan's (r_name, o_orderkey) distinct exchange over the full
    joined fact. Result identical: same per-group double sums rounded to
    4 decimals (verified equal at sf0.1 + the DuckDB oracle; the oracle
    SQL text is untouched). Measured r6: noop 2.16 -> 1.17 s paired A/B."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    li_agg = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    dim = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("o_orderkey", "r_name")
    )
    return (
        li_agg.join(dim, li_agg.l_orderkey == dim.o_orderkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("rev"), 4).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_outer_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers without orders; null handling
    via coalesce."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("t")
    )
    return (
        cust.join(agg, cust.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("t"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


SQL_OUTER_JOIN = """
SELECT c_custkey,
       COALESCE(n, 0) AS n_orders,
       ROUND(COALESCE(t, 0.0), 4) AS total_spent
FROM customer
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS t
  FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(
            orders.filter(F.col("o_totalprice") > 100000),
            cust.c_custkey == F.col("o_custkey"), "left_semi"
        ).select("c_custkey", "c_name")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resume primitive (BASELINE.json:6): drop already-present keys."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_nationkey")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_nationkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/non-equi join against a tiny literal band table (broadcast
    nested loop — the small side makes this sane at any fact size)."""
    orders = load(spark, sf_dir, "orders")
    bands = orders.sparkSession.createDataFrame(
        [("small", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
         ("large", 150000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


SQL_RANGE_JOIN = """
SELECT band, COUNT(*) AS n_orders, ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders
JOIN (VALUES ('small', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
             ('large', 150000.0, 1e18)) bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via window (Spark SQL has no native as-of — SURVEY §2.2):
    for each purchase, the event_id of the same user's most recent prior
    signup."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    tagged = ev.withColumn(
        "last_signup",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "last_signup"
    )


SQL_ASOF = """
SELECT event_id, user_id, last_signup FROM (
  SELECT event_id, user_id, event_type,
         LAST_VALUE(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup
  FROM events
) WHERE event_type = 'purchase'
"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (dedup 'keep first' pattern of §2.5)."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag per user over the event stream."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
    )


SQL_WINDOW_RUNNING = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
       LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
FROM events
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    # round to 6 (not 4): with 2-decimal inputs and window length k <= 10
    # the exact average is i/(100k), which can sit exactly ON a 1e-4
    # midpoint (k=8: i*25 odd) where engine ulp drift flips the digit;
    # at 1e-6 grain no i/(100k) midpoint exists for any k in 1..10.
    return ev.select(
        "event_id", F.round(F.avg("value").over(w), 6).alias("mav10")
    )


SQL_WINDOW_MAV = """
SELECT event_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS mav10
FROM events
"""


def q_rollup_lineage_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + grouping_id — the lineage-report slice pattern (§2.2)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    j = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return (
        j.cube("r_name")
        .agg(F.count("*").alias("n_nations"))
        .select(F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"), "n_nations")
    )


SQL_CUBE = """
SELECT COALESCE(r_name, 'ALL') AS region, COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect + exceptAll + union through one pipeline."""
    cust = load(spark, sf_dir, "customer")
    big = cust.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    seg = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    both = big.intersect(seg).withColumn("src", F.lit("both"))
    only_big = big.distinct().exceptAll(seg.distinct()).withColumn(
        "src", F.lit("only_big")
    )
    return (
        both.unionByName(only_big)
        .groupBy("src")
        .agg(F.count("*").alias("n"))
    )


SQL_SET_OPS = """
WITH big AS (SELECT c_nationkey FROM customer WHERE c_acctbal > 5000),
     seg AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
     both_s AS (SELECT c_nationkey, 'both' AS src FROM
                (SELECT c_nationkey FROM big INTERSECT SELECT c_nationkey FROM seg)),
     ob AS (SELECT c_nationkey, 'only_big' AS src FROM
            (SELECT DISTINCT c_nationkey FROM big
             EXCEPT ALL SELECT DISTINCT c_nationkey FROM seg))
SELECT src, COUNT(*) AS n FROM (SELECT * FROM both_s UNION ALL SELECT * FROM ob)
GROUP BY src
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (rule-threshold calibration pattern).
    r6: spread — exact percentile buffers every group value, and the
    single-row-group sandbox scan put all 600k rows in ONE partial-agg
    task (no-op at scale; measured noop 1.90 -> 1.20 s). Spread key is
    the HIGH-cardinality value column, not the 3-value group key — a
    group-key repartition would be reused by the groupBy and concentrate
    the whole shuffle onto #groups tasks."""
    li = spread(
        load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_extendedprice",
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.95), 4).alias("p95"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95,
       ROUND(stddev_samp(l_extendedprice), 4) AS sd
FROM lineitem GROUP BY l_returnflag
"""


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_discount", "l_tax"), 6).alias("covar_disc_tax"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


SQL_CORR = """
SELECT ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(covar_samp(l_discount, l_tax), 6) AS covar_disc_tax,
       ROUND(AVG(l_quantity), 4) AS avg_qty
FROM lineitem
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column parse on the event stream (§2.3 json family)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
    )


SQL_JSON = """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


def q_date_trunc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("month", F.date_trunc("month", "o_orderdate"))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("monthly_total"),
        )
    )


SQL_DATE_TRUNC = """
SELECT date_trunc('month', o_orderdate) AS month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS monthly_total
FROM orders GROUP BY date_trunc('month', o_orderdate)
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("prefix"),
        F.length("p_name").alias("name_len"),
        F.when(F.col("p_type").rlike("BRASS|COPPER"), "metal")
        .otherwise("other")
        .alias("material"),
    )


SQL_STRING = """
SELECT p_partkey,
       UPPER(SUBSTRING(p_name, 1, 8)) AS prefix,
       LENGTH(p_name) AS name_len,
       CASE WHEN regexp_matches(p_type, 'BRASS|COPPER') THEN 'metal'
            ELSE 'other' END AS material
FROM part
"""


def q_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable pivot form)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 4
        ).alias("qty_open"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 4
        ).alias("qty_filled"),
    )


SQL_COND_PIVOT = """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 4) AS qty_open,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 4) AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )


SQL_HAVING = """
SELECT l_suppkey, ROUND(SUM(l_quantity), 4) AS total_qty
FROM lineitem GROUP BY l_suppkey HAVING SUM(l_quantity) > 100
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap), batch-expressible form
    of the streaming session_window (§2.8)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts", 1).over(w)
    # first event of a user opens a session (prev IS NULL), like the SQL
    gap = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("new_sess", gap)
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return sess.groupBy("user_id").agg(
        F.max("sess_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1
              WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
)
SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id
"""


def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg, batch form (streaming F.window analog)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


SQL_TUMBLING = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window agg (10-min window, 5-min slide) in batch form —
    each event lands in 2 windows; the streaming twin is
    F.window(ts, '10 minutes', '5 minutes') (§2.8)."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


SQL_SLIDING = """
WITH slid AS (
  SELECT event_type, value,
         unnest([CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP),
                 CAST(to_timestamp(floor(epoch(ts) / 300) * 300 - 300) AS TIMESTAMP)]) AS win_start
  FROM events
)
SELECT win_start, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM slid GROUP BY win_start, event_type
"""


def q_full_outer_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join + ntile/percent_rank window family."""
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    c = cust.groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    s = sup.groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    j = c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )
    w = W.orderBy(F.desc("n_cust"), "nationkey")
    return j.select(
        "nationkey",
        "n_cust",
        "n_supp",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
    )


SQL_FULL_OUTER_RANKED = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey),
     j AS (SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
                  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
           FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey)
SELECT nationkey, n_cust, n_supp,
       NTILE(4) OVER (ORDER BY n_cust DESC, nationkey) AS quartile,
       ROUND(PERCENT_RANK() OVER (ORDER BY n_cust DESC, nationkey), 4) AS pct_rank
FROM j
"""


def q_collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with pinned ordering (sort_array) so the array value is
    deterministic and oracle-comparable."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    j = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    # emit the array as a joined STRING: engines stringify native arrays
    # differently (numpy repr vs python list), which breaks value-hash
    # comparators; a canonical join sidesteps that entirely
    return j.groupBy("r_name").agg(
        F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"),
        F.count("*").alias("n"),
    )


SQL_COLLECT_SET = """
SELECT r_name,
       array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations,
       COUNT(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_cardinality_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct next to the exact count (10^12-scale
    cardinality pattern, §2.2). Rows-only: sketch estimates are
    implementation-specific by nature.
    r6: spread — the HLL sketch + exact-distinct partials ran in the one
    scan task (no-op at scale; measured noop 1.12 -> 0.64 s)."""
    li = spread(
        load(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey"),
        "l_partkey",
    )
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_rows"),
    )


def q_trimmed_mean_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (SURVEY §2.4): 10-90% trimmed mean per
    event_type. Pinned: bounds = round(linear-interpolated percentile, 6)
    (np.percentile 'linear' == quantile_cont), inclusive, mean rounded 4."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tm(v):
        a = v.to_numpy(dtype=np.float64)
        if len(a) == 0:
            return float("nan")
        lo = round(float(np.percentile(a, 10)), 6)
        hi = round(float(np.percentile(a, 90)), 6)
        sel = a[(a >= lo) & (a <= hi)]
        return round(float(sel.mean()), 4) if len(sel) else float("nan")

    # real (non-string) annotations: this module uses postponed annotation
    # evaluation, which Spark's Series->scalar hint inspection can't read
    _tm.__annotations__ = {"v": pd.Series, "return": float}
    trimmed_mean = pandas_udf(_tm, "double")

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        trimmed_mean("value").alias("trimmed_mean_value")
    )


SQL_TRIMMED_MEAN = """
WITH q AS (
  SELECT event_type,
         ROUND(CAST(quantile_cont(value, 0.1) AS DOUBLE), 6) AS lo,
         ROUND(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(AVG(value), 4) AS trimmed_mean_value
FROM events e JOIN q ON e.event_type = q.event_type
WHERE value >= lo AND value <= hi
GROUP BY e.event_type
"""


def q_global_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order-by + limit -> TakeOrderedAndProject (no full sort)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("price"))
    )


SQL_SORT_LIMIT = """
SELECT o_orderkey, ROUND(o_totalprice, 4) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


def q_mode_any_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode() + any_value() aggregate coverage (§2.2 first/last/mode row).
    Determinism by construction: the modal l_returnflag is a unique winner
    per l_linestatus on this corpus (counts differ), and any_value runs
    over a column functionally dependent on the group key."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.mode("l_returnflag").alias("modal_flag"),
        F.any_value(F.upper("l_linestatus")).alias("status_uc"),
        F.count("*").alias("n"),
    )


SQL_MODE_ANY_VALUE = """
SELECT l_linestatus,
       mode(l_returnflag) AS modal_flag,
       any_value(UPPER(l_linestatus)) AS status_uc,
       COUNT(*) AS n
FROM lineitem GROUP BY l_linestatus
"""
