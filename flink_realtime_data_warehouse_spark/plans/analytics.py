"""Batch SQL analytics surface (SURVEY.md §2.5 and §2.4).

The reference has no DWS/ADS layer in code — its flink-table-planner
dependency is unused (reference gmall-logger/pom.xml:81-96) — but the
whole point of its DWD/DIM layers is to feed exactly these analytics.
We expose them Spark-first: declarative DataFrame plans that Catalyst
turns into broadcast-hash joins, partial aggregates, and whole-stage
codegen. No custom planner code is needed (SURVEY.md §4).

Scale notes (100 TB):
- every dim join (region/nation/customer/supplier/part) is broadcast —
  the fact-side never shuffles for them;
- aggregations rely on partial (map-side) aggregation; high-cardinality
  group-bys shuffle once on the group key;
- top-k uses ORDER BY + LIMIT, which Spark executes as TakeOrdered
  (per-partition heap + driver merge) — no global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.plans.registry import query
from flink_realtime_data_warehouse_spark.sources.tables import load_table, load_tables


def _ntz(lit: str) -> F.Column:
    return F.expr(f"TIMESTAMP_NTZ '{lit}'")


def _dec(name: str) -> F.Column:
    """Money column ``name`` as exact DECIMAL(18,6). Money sums run in
    decimal on both sides: float sums are summation-order dependent and
    can flip a rounding boundary against the oracle engine."""
    return F.col(name).cast("decimal(18,6)")


# ---------------------------------------------------------------------------
# TPC-H-style aggregations and joins
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(round(sum(l_extendedprice::DECIMAL(18,6)), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(l_extendedprice::DECIMAL(18,6) * (1 - l_discount::DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(l_extendedprice::DECIMAL(18,6) * (1 - l_discount::DECIMAL(18,6)) * (1 + l_tax::DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one scan, partial+final hash aggregate on a 2-value key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price_dec = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ntz("1998-12-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price_dec), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(disc_price_dec * (F.lit(1) + _dec("l_tax"))), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(l_extendedprice::DECIMAL(18,6) * (1 - l_discount::DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE)                         AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    ORDER BY revenue DESC, orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: customer filter broadcast into orders, then lineitem; top-10 heap."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"], register=False)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = t["orders"].filter(F.col("o_orderdate") < _ntz("1997-01-01 00:00:00"))
    li = t["lineitem"].filter(F.col("l_shipdate") > _ntz("1997-01-01 00:00:00"))
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier",
    oracle="""
    SELECT n_name, CAST(round(sum(l_extendedprice::DECIMAL(18,6) * (1 - l_discount::DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: star joins — all dims broadcast, one shuffle for the final group."""
    t = load_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"], register=False
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1998-01-01 00:00:00"))
    )
    nat_region = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(round(sum(l_extendedprice::DECIMAL(18,6) * l_discount::DECIMAL(18,6)), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+scalar agg — pushdown-friendly, no shuffle of data rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(round(sum(l_extendedprice::DECIMAL(18,6) * (1 - l_discount::DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue by customer, top-20."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"], register=False)
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= _ntz("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1998-01-01 00:00:00"))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_orderkey) AS order_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style: distinct-count aggregation after a fact/fact join."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"], register=False)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ntz("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1998-01-01 00:00:00"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional aggregation over a broadcast part join."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"], register=False)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ntz("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-07-01 00:00:00"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev), 4
            ).alias("promo_revenue")
        )
    )


@query(
    "q18_large_volume",
    oracle="""
    SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
           round(o_totalprice, 2) AS totalprice, round(sum(l_quantity), 2) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
    HAVING sum(l_quantity) > 150
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: group-having over the fact table, then top-50."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"], register=False)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.sum("l_quantity") > 150)
        .select(
            "c_custkey",
            "o_orderkey",
            "orderdate",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Window functions (rank / lag / lead / running frames)
# ---------------------------------------------------------------------------


@query(
    "wf_rank_customers",
    oracle="""
    SELECT * FROM (
      SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal,
             row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn,
             rank()       OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer JOIN nation ON c_nationkey = n_nationkey)
    WHERE rn <= 3
    ORDER BY n_name, rn
    """,
)
def wf_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL window ranking: top-3 customers per nation by account balance."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["customer", "nation"], register=False)
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "c_custkey",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("n_name", "rn")
    )


@query(
    "wf_distribution_functions",
    oracle="""
    SELECT c_custkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           nth_value(c_custkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND UNBOUNDED FOLLOWING) AS second_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
)
def wf_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist /
    nth_value over a segment partition — the §2.5 surface beyond
    ranking and frames."""
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_cust"),
    ).orderBy("c_custkey")


@query(
    "wf_event_gaps",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
    FROM events
    ORDER BY user_id, event_id
    """,
)
def wf_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over an event stream: microsecond gap to the previous event per user."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts")).alias("gap_us"),
        ).orderBy("user_id", "event_id")
    )


@query(
    "wf_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def wf_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-frame window aggregate: cumulative customer spend."""
    from pyspark.sql.window import Window

    ords = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ords.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets / set operations / semi-anti joins
# ---------------------------------------------------------------------------


@query(
    "agg_rollup_region",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region_name, nation_name
    """,
)
def agg_rollup_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    t = load_tables(spark, sf_dir, ["customer", "nation", "region"], register=False)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_balance"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_balance",
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "agg_cube_orders",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status × priority."""
    ords = load_table(spark, sf_dir, "orders")
    return (
        ords.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY returnflag, linestatus
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL."""
    load_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus
        """
    )


@query(
    "setop_intersect_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY custkey
    """,
)
def setop_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers with both open and filled orders."""
    ords = load_table(spark, sf_dir, "orders")
    o_cust = ords.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    f_cust = ords.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return o_cust.intersect(f_cust).orderBy("custkey")


@query(
    "setop_except_custkeys",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    ORDER BY custkey
    """,
)
def setop_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers without pending orders."""
    t = load_tables(spark, sf_dir, ["customer", "orders"], register=False)
    all_cust = t["customer"].select(F.col("c_custkey").alias("custkey"))
    p_cust = t["orders"].filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    return all_cust.exceptAll(p_cust).distinct().orderBy("custkey")


@query(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
    ORDER BY c_custkey
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having at least one big order."""
    t = load_tables(spark, sf_dir, ["customer", "orders"], register=False)
    big = t["orders"].filter(F.col("o_totalprice") > 50000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_anti_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no orders at all."""
    t = load_tables(spark, sf_dir, ["customer", "orders"], register=False)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "sort_limit_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders ORDER BY totalprice DESC, o_orderkey LIMIT 25
    """,
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: executed as TakeOrdered (no full sort materialization)."""
    ords = load_table(spark, sf_dir, "orders")
    return (
        ords.select("o_orderkey", "o_custkey", F.round(F.col("o_totalprice"), 2).alias("totalprice"))
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(25)
    )


@query(
    "union_signup_error_events",
    oracle="""
    SELECT event_id, user_id, event_type FROM events WHERE event_type = 'signup'
    UNION ALL
    SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def union_signup_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union analogue (reference DwdTrafficUserJumpDetail.java:136): unionByName of two same-schema streams."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return (
        ev.filter(F.col("event_type") == "signup")
        .unionByName(ev.filter(F.col("event_type") == "error"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Scalar-function surface: dates (F1-F3), JSON access (F4)
# ---------------------------------------------------------------------------


@query(
    "fn_date_formatting",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d')          AS dt_str,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS dths_str,
           CAST(year(ts) AS INT)  AS yr,
           CAST(month(ts) AS INT) AS mo,
           CAST(hour(ts) AS INT)  AS hr,
           epoch_us(ts)           AS ts_us
    FROM events ORDER BY event_id LIMIT 500
    """,
)
def fn_date_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3 surface (reference DateFormatUtil.java:10-38): formatting + epoch round-trip."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd").alias("dt_str"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dths_str"),
            F.year("ts").cast("int").alias("yr"),
            F.month("ts").cast("int").alias("mo"),
            F.hour("ts").cast("int").alias("hr"),
            F.timestamp_diff("MICROSECOND", F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"), F.col("ts")).alias("ts_us"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@query(
    "fn_json_access",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INT) AS k_val
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def fn_json_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 JSON access (reference fastjson getString/getLong, BaseLogApp.java:78-79)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )
        .orderBy("event_id")
        .limit(1000)
    )
