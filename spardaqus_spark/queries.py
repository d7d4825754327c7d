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

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .queries_text import load


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

