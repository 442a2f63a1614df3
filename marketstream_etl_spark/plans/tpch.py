"""TPC-H-shaped analytics over the driver testdata — the general-OLAP query
surface (scan → filter → join → agg → sort → limit) that the new engine adds
beyond the reference's fixed pipeline (the reference has no joins at all,
SURVEY §2.6).

Scale notes (100 TB posture):
- Only fixed-cardinality dimensions (region: 5 rows, nation: 25 rows) and
  1-row aggregate frames (global max / avg / threshold scalars) carry
  explicit `F.broadcast` hints — those are bounded at ANY scale factor.
  Tables that grow linearly with SF (customer/supplier/part and per-part
  aggregates) deliberately carry NO hint: at small SF the
  autoBroadcastJoinThreshold / AQE runtime stats still pick a broadcast
  join, and at 100 TB the same plan degrades gracefully to a shuffled
  hash join instead of forcing a multi-GB broadcast (executor OOM).
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key once; AQE
  handles skew and post-shuffle coalescing.
- Filters appear before joins so Catalyst pushes them into the parquet scan
  (`PushedFilters` in `.explain("formatted")`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.topk import top_k_per_key
from marketstream_etl_spark.operators import graph
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.tables import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report (groupBy 2 cols + 8 aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_SQL = """
            SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 4) AS sum_qty,
                round(sum(l_extendedprice), 4) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
                    AS sum_charge,
                round(avg(l_quantity), 6) AS avg_qty,
                round(avg(l_extendedprice), 6) AS avg_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """
register("tpch_q1", q1_pricing_summary, TPCH_Q1_SQL)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue.
    customer ⋈ orders ⋈ lineitem (customer join auto-broadcast at small SF
    via AQE/threshold; no forced hint — it scales with SF)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey, "inner"
        )
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


TPCH_Q3_SQL = """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
        """
register("tpch_q3", q3_shipping_priority, TPCH_Q3_SQL)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation; 6-table join. nation/region broadcast (fixed cardinality);
    customer/supplier joins left to AQE."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


TPCH_Q5_SQL = """
            SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name
        """
register("tpch_q5", q5_local_supplier_volume, TPCH_Q5_SQL)


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + single aggregate — the predicate-pushdown
    showcase (all three filters reach the parquet scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


TPCH_Q6_SQL = """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """
register("tpch_q6", q6_revenue_forecast, TPCH_Q6_SQL)


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: highest-revenue part per brand (window + row_number)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return (
        top_k_per_key(
            rev, "p_brand", [F.desc("revenue"), F.col("p_partkey")], 3
        )
        .select("p_brand", "p_partkey", "revenue", "rank")
        .orderBy("p_brand", "rank")
    )


TOP_PARTS_BY_REVENUE_SQL = """
            WITH rev AS (
                SELECT p_brand, p_partkey,
                    round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY p_brand, p_partkey
            ),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY p_brand
                    ORDER BY revenue DESC, p_partkey) AS rank
                FROM rev
            )
            SELECT p_brand, p_partkey, revenue, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3 ORDER BY p_brand, rank
        """
register("top_parts_by_revenue", q_top_parts_by_revenue, TOP_PARTS_BY_REVENUE_SQL)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for widget
    parts — 5-table join, LIKE filter, date extraction."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.5)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


TPCH_Q9_SQL = """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity * 0.5), 4)
                       AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """
register("tpch_q9", q9_product_profit, TPCH_Q9_SQL)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


TPCH_Q10_SQL = """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20
        """
register("tpch_q10", q10_returned_items, TPCH_Q10_SQL)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation ratio."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


TPCH_Q14_SQL = """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 6)
                       AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01'
        """
register("tpch_q14", q14_promo_revenue, TPCH_Q14_SQL)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    aggregate + HAVING + join back to customers (top-20)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "l_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 4).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "l_orderkey")
        .limit(20)
    )


TPCH_Q18_SQL = """
            WITH big AS (
                SELECT l_orderkey, sum(l_quantity) AS total_qty
                FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100
            )
            SELECT c_name, c_custkey, l_orderkey, o_orderdate, o_totalprice,
                   round(total_qty, 4) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, l_orderkey LIMIT 20
        """
register("tpch_q18", q18_large_orders, TPCH_Q18_SQL)


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders having at least one
    lineitem — EXISTS via left-semi join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SEMIJOIN_SQL = """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
register("tpch_q4_semijoin", q_order_priority_count, TPCH_Q4_SEMIJOIN_SQL)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year — the
    classic two-role dimension join (nation joined twice under different
    aliases), disjunctive nation-pair predicate, year extraction.

    Scale: both nation copies broadcast; the only shuffles are the
    lineitem ⋈ orders fact join and the final 3-key aggregation."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 4) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       CAST(year(l_shipdate) AS INTEGER) AS l_year,
                       l_extendedprice * (1 - l_discount) AS volume
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """
register("tpch_q7", q7_volume_shipping, TPCH_Q7_SQL)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of the AMERICA market for
    STANDARD parts, by order year — conditional-sum ratio over a 7-table
    join (nation/region broadcast; part/customer/supplier AQE-selected;
    one fact-fact shuffle)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    cnat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    snat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0)
                )
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


TPCH_Q8_SQL = """
            SELECT o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_3'
                                  THEN volume ELSE 0.0 END) / sum(volume), 6)
                       AS mkt_share
            FROM (
                SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                       l_extendedprice * (1 - l_discount) AS volume,
                       n2.n_name AS supp_nation
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region ON n1.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
                  AND o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            GROUP BY o_year ORDER BY o_year
        """
register("tpch_q8", q8_market_share, TPCH_Q8_SQL)


def q12_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: testdata lineitem has no commit/receipt
    dates or shipmode, SURVEY §1.2) — bucket lines by order→ship lag and
    count high- vs low-priority orders per bucket. Same plan shape as Q12:
    fact-fact equi-join + conditional counts by category."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag_days < 30, "fast")
        .when(lag_days < 90, "medium")
        .otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
        .orderBy("ship_bucket")
    )


TPCH_Q12_SHIPLAG_SQL = """
            SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 30
                            THEN 'fast'
                        WHEN datediff('day', o_orderdate, l_shipdate) < 90
                            THEN 'medium'
                        ELSE 'slow' END AS ship_bucket,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_priority_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_priority_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1
        """
register("tpch_q12_shiplag", q12_ship_lag, TPCH_Q12_SHIPLAG_SQL)


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count — LEFT OUTER
    join (customers with zero orders must appear) then two-level agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_SQL = """
            SELECT c_count, count(*) AS custdist
            FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """
register("tpch_q13", q13_order_count_distribution, TPCH_Q13_SQL)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum revenue in a quarter — agg,
    global max, then equality join back (the view + scalar-subquery
    pattern, expressed as a broadcast join against the 1-row max)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(max_rev),
            revenue.total_revenue == max_rev.max_revenue,
        )
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       round(sum(l_extendedprice * (1 - l_discount)), 4)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """
register("tpch_q15", q15_top_supplier, TPCH_Q15_SQL)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders for
    one brand were not filled — the correlated scalar subquery
    (avg quantity per part) decorrelated into an agg + broadcast join."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = branded.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        branded.join(
            avg_qty, F.col("l_partkey") == F.col("a_partkey")
        )
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 4).alias(
                "avg_yearly"
            )
        )
    )


TPCH_Q17_SQL = """
            WITH branded AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#1'
            ),
            avg_qty AS (
                SELECT l_partkey AS a_partkey,
                       avg(l_quantity) * 0.5 AS half_avg_qty
                FROM branded GROUP BY 1
            )
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
            FROM branded JOIN avg_qty ON l_partkey = a_partkey
            WHERE l_quantity < half_avg_qty
        """
register("tpch_q17", q17_small_quantity_revenue, TPCH_Q17_SQL)


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from an OR-of-ANDs over part attributes and
    lineitem quantity — the disjunctive-pushdown stress case (Catalyst
    extracts the common l_partkey=p_partkey conjunct so the join stays an
    equi-join; the residual OR is a post-join filter)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


TPCH_Q19_SQL = """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
                   AND l_quantity BETWEEN 20 AND 30)
        """
register("tpch_q19", q19_disjunctive_predicates, TPCH_Q19_SQL)


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and
    no order since 2000 — scalar-subquery average (broadcast 1-row cross
    join) + left-anti join, grouped by nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


TPCH_Q22_SQL = """
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 4) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
              AND NOT EXISTS (
                    SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_nationkey ORDER BY c_nationkey
        """
register("tpch_q22", q22_idle_customers, TPCH_Q22_SQL)


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the testdata schema: lateness is
    ship-vs-order lag > 90 days since there are no commit/receipt dates):
    suppliers who were the SOLE late shipper on a multi-supplier order.

    The classic form is a double correlated EXISTS / NOT EXISTS on
    lineitem; here it is decorrelated the way a scale-out plan wants it —
    one per-order aggregation producing (n_suppliers, n_late_suppliers,
    the_late_supplier), then a join back. Two shuffles total."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90).alias(
            "late"
        ),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    culprit = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        culprit.join(
            supp, F.col("late_supp") == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


TPCH_Q21_SQL = """
            WITH j AS (
                SELECT l_orderkey, l_suppkey,
                       datediff('day', o_orderdate, l_shipdate) > 90 AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
            ),
            per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN late THEN l_suppkey END)
                           AS n_late_supp,
                       max(CASE WHEN late THEN l_suppkey END) AS late_supp
                FROM j GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp > 1 AND n_late_supp = 1
            GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
        """
register("tpch_q21", q21_waiting_suppliers, TPCH_Q21_SQL)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp table — the part↔supplier
    relation is derived from lineitem): for each STANDARD part of size
    >= 25, the supplier with the minimum account balance among suppliers
    who shipped it. Correlated-min subquery decorrelated into a per-part
    aggregation + equality join back; top-100 by balance then partkey."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") >= 25)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    supp = load_table(spark, sf_dir, "supplier")
    ps = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
    )
    min_bal = ps.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        ps.join(
            min_bal,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select(
            F.round("s_acctbal", 4).alias("s_acctbal"),
            "s_name",
            "p_partkey",
            "p_name",
        )
        .orderBy("s_acctbal", "p_partkey", "s_name")
        .limit(100)
    )


TPCH_Q2_SQL = """
            WITH ps AS (
                SELECT DISTINCT l_partkey, l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'STANDARD' AND p_size >= 25
            ),
            pss AS (
                SELECT l_partkey, s_suppkey, s_name, s_acctbal
                FROM ps JOIN supplier ON l_suppkey = s_suppkey
            ),
            mins AS (
                SELECT l_partkey AS m_partkey, min(s_acctbal) AS min_bal
                FROM pss GROUP BY 1
            )
            SELECT round(s_acctbal, 4) AS s_acctbal, s_name, p_partkey, p_name
            FROM pss
            JOIN mins ON l_partkey = m_partkey AND s_acctbal = min_bal
            JOIN part ON l_partkey = p_partkey
            ORDER BY s_acctbal, p_partkey, s_name LIMIT 100
        """
register("tpch_q2", q2_min_cost_supplier, TPCH_Q2_SQL)


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: shipped revenue stands in for partsupp
    stock value): parts whose revenue from NATION_5 suppliers exceeds
    0.1% of that nation's total — the HAVING-against-a-scalar-subquery
    pattern as a broadcast 1-row cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_5"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("l_partkey", rev.alias("rev"))
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("rev").alias("part_value"))
    total = per_part.agg((F.sum("part_value") * 0.001).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.round("part_value", 4).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


TPCH_Q11_SQL = """
            WITH base AS (
                SELECT l_partkey,
                       l_extendedprice * (1 - l_discount) AS rev
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_5'
            ),
            per_part AS (
                SELECT l_partkey, sum(rev) AS part_value
                FROM base GROUP BY l_partkey
            )
            SELECT l_partkey, round(part_value, 4) AS part_value
            FROM per_part
            WHERE part_value > (SELECT sum(part_value) * 0.001 FROM per_part)
            ORDER BY part_value DESC, l_partkey
        """
register("tpch_q11", q11_important_stock, TPCH_Q11_SQL)


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size
    bucket) for parts not of Brand#5, excluding suppliers with negative
    balance (the NOT IN subquery as a broadcast left-anti join)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, "l_suppkey", "left_anti")
        .groupBy(
            "p_brand",
            "p_type",
            (F.col("p_size") - F.col("p_size") % 10).alias("size_bucket"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "size_bucket")
    )


TPCH_Q16_SQL = """
            SELECT p_brand, p_type,
                   p_size - p_size % 10 AS size_bucket,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND l_suppkey NOT IN (
                    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, size_bucket
        """
register("tpch_q16", q16_supplier_count, TPCH_Q16_SQL)


def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: shipped quantity stands in for partsupp
    availqty): NATION_7 suppliers who shipped more than half the average
    per-supplier quantity of some widget part in 1997 — a semi-join chain
    ending in a nation filter."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avg_per_part = shipped.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("qty") * 0.5).alias("half_avg")
    )
    heavy = (
        shipped.join(
            avg_per_part, F.col("l_partkey") == F.col("a_partkey")
        )
        .filter(F.col("qty") > F.col("half_avg"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


TPCH_Q20_SQL = """
            WITH shipped AS (
                SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%widget%'
                  AND l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'
                GROUP BY 1, 2
            ),
            avg_per_part AS (
                SELECT l_partkey AS a_partkey, avg(qty) * 0.5 AS half_avg
                FROM shipped GROUP BY 1
            ),
            heavy AS (
                SELECT DISTINCT l_suppkey
                FROM shipped JOIN avg_per_part ON l_partkey = a_partkey
                WHERE qty > half_avg
            )
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
              AND s_suppkey IN (SELECT l_suppkey FROM heavy)
            ORDER BY s_suppkey
        """
register("tpch_q20", q20_heavy_shippers, TPCH_Q20_SQL)


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation in the part co-purchase graph
    (operators/graph.py::part_triangles): degree-ordered wedge
    enumeration — the scalable motif-counting shape (each edge oriented
    low→high (degree, id); closure via one composite-key equi-join)."""
    return graph.part_triangles(load_table(spark, sf_dir, "lineitem"))


register("part_triangles", q_part_triangles, graph.part_triangles_sql())


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-edge prediction over the part co-purchase graph
    (operators/graph.py::link_prediction): hub-capped wedge enumeration,
    fixed-point resource-allocation scores, anti-join against known
    edges, integer-first top-k."""
    return graph.link_prediction(load_table(spark, sf_dir, "lineitem"))


register("link_prediction", q_link_prediction, graph.link_prediction_sql())
