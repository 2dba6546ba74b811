"""Beyond-reference relational coverage: joins, analytic windows, set
ops, rollup, sessionization, as-of attribution.

The reference implements no relational joins (SURVEY.md §2.3) — these
operators are "beyond-reference, built-in": expressed declaratively so
Catalyst picks broadcast vs shuffle strategies (AQE re-plans at runtime).

Numeric discipline: money aggregates run in exact DECIMAL (distributed
sums are then order-independent and bit-identical to any other engine),
converted to DOUBLE only in the final projection. Floating-point sums
would differ from the oracle in the last ulp depending on partitioning.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from solar_logger_spark.durations import epoch_us
from solar_logger_spark.io.tables import load_table


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(12,2)")


def _one() -> Column:
    return F.lit(1).cast("decimal(3,2)")


def disc_price() -> Column:
    """Exact l_extendedprice * (1 - l_discount) as DECIMAL(18,4)."""
    return (_dec("l_extendedprice") * (_one() - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape) over lineitem."""
    from solar_logger_spark.operators.spread import spread_small

    # single-file scan = one task for the five exact-decimal partial
    # sums; spread after the pushed filter (decimal sums are exact,
    # so partitioning cannot change a bit)
    l = spread_small(load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(datetime(1999, 12, 31))
    ))
    charge = (disc_price() * (_one() + _dec("l_tax"))).cast("decimal(24,6)")
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("_sum_qty"),
        F.sum(_dec("l_extendedprice")).alias("_sum_base"),
        F.sum(disc_price()).alias("_sum_disc"),
        F.sum(charge).alias("_sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    cnt = F.col("count_order")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sum_qty").cast("double").alias("sum_qty"),
        F.col("_sum_base").cast("double").alias("sum_base_price"),
        F.col("_sum_disc").cast("double").alias("sum_disc_price"),
        F.col("_sum_charge").cast("double").alias("sum_charge"),
        (F.col("_sum_qty").cast("double") / cnt).alias("avg_qty"),
        (F.col("_sum_base").cast("double") / cnt).alias("avg_price"),
        "count_order",
    )


TPCH_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))
                AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-31'
    GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape): 3-way join + top-k.

    customer is small → broadcast; orders⋈lineitem shuffles on orderkey.
    Revenue is exact decimal so the top-10 cut is deterministic.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(datetime(1998, 3, 15))
    )
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(datetime(1998, 3, 15))
    )
    joined = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    g = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(disc_price()).alias("_rev")
    )
    return (
        g.select(
            "l_orderkey",
            F.col("_rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


TPCH_Q3_SQL = """
    SELECT l_orderkey,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
               AS DECIMAL(18,4))) DESC, l_orderkey ASC
    LIMIT 10
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume shape (TPC-H Q5): star join through
    region→nation→customer→orders→lineitem, revenue per nation.

    region/nation/customer are broadcast (dimension tables); only
    orders⋈lineitem shuffles — at 100 TB that is the correct plan.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    )
    line = load_table(spark, sf_dir, "lineitem")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    joined = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), orders.o_custkey == F.col("c_custkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(disc_price()).alias("_rev"))
        .select("n_name", F.col("_rev").cast("double").alias("revenue"))
    )


TPCH_Q5_SQL = """
    SELECT n_name,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
"""


def join_part_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast fact⋈dim join: shipped quantity + revenue per brand."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_quantity")).alias("_qty"),
            F.sum(disc_price()).alias("_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "p_brand",
            F.col("_qty").cast("double").alias("total_qty"),
            F.col("_rev").cast("double").alias("revenue"),
            "n_items",
        )
    )


JOIN_PART_BRAND_SQL = """
    SELECT p_brand,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
"""


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window function (SURVEY.md §2.5, beyond-reference):
    top-3 orders by totalprice per customer, deterministic tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(win))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


TOPK_ORDERS_SQL = """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT
           ) AS rank_in_cust
    FROM orders
    QUALIFY rank_in_cust <= 3
"""


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (beyond-reference, built-in)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


DISTINCT_USERS_SQL = """
    SELECT event_type, count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
"""


def set_purchase_days_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation EXCEPT (distinct semantics, like SQL EXCEPT):
    (user, day) pairs with a purchase but no error that day."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", day
    )
    errors = events.filter(F.col("event_type") == "error").select("user_id", day)
    return purchases.subtract(errors)


SET_EXCEPT_SQL = """
    SELECT user_id, date_trunc('day', ts) AS day FROM events
    WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id, date_trunc('day', ts) AS day FROM events
    WHERE event_type = 'error'
"""


def rollup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set aggregation (beyond-reference): ROLLUP over
    (event_type, day) with counts at every level."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("day", F.date_trunc("day", F.col("ts")))
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ROLLUP_SQL = """
    SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_events
    FROM events GROUP BY ROLLUP (event_type, day)
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min inactivity gap) per user — Spark
    ``session_window``; new session starts when the gap is >= 30 min.
    Streaming-capable: the same expression works under readStream with a
    watermark (SURVEY.md §2.9 T9 names sessions as beyond-reference)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(_dec("value")).alias("_val"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            F.col("_val").cast("double").alias("session_value"),
        )
    )


SESSIONIZE_SQL = """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY user_id, session_id
"""


def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the reference's status-gate generalized, SURVEY.md
    §2.3 J1): each purchase attributed to the user's most recent click
    at-or-before it. Union-merge implementation — no range cross-product."""
    from solar_logger_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_ts", "click_value"],
    )
    return out.select("event_id", "user_id", "ts", "value",
                      "click_ts", "click_value")


ASOF_ATTRIBUTION_SQL = """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
"""


# ---------------------------------------------------------------------------
# Additional TPC-H shapes (adapted to the trimmed testdata schemas)
# ---------------------------------------------------------------------------

def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change (Q6 shape): pure scan + aggregate. The
    point at 100 TB: every predicate and both referenced columns reach
    the parquet scan (PushedFilters + 4-column ReadSchema) — the scan IS
    the query."""
    l = load_table(spark, sf_dir, "lineitem")
    out = l.filter(
        (F.col("l_shipdate") >= F.lit(datetime(1998, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1999, 1, 1)))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            (_dec("l_extendedprice") * _dec("l_discount")).cast("decimal(18,4)")
        ).alias("_rev")
    )
    return out.select(F.col("_rev").cast("double").alias("revenue"))


TPCH_Q6_SQL = """
    SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
"""


def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority check (Q4 shape): EXISTS → left-semi join. The
    semi-join shuffles only distinct orderkeys of the filtered lineitem
    side; counts come from a map-side-combinable hash agg."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1998, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 7, 1)))
    )
    line = load_table(spark, sf_dir, "lineitem")
    late = line.join(
        orders.select("o_orderkey", "o_orderdate"),
        line.l_orderkey == F.col("o_orderkey"),
        "inner",
    ).filter(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey")
    qualified = orders.join(
        late, orders.o_orderkey == late.l_orderkey, "left_semi"
    )
    return (
        qualified.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue top-20 (Q10 shape): fact-side filters first,
    small dims broadcast, exact-decimal revenue so the cut is stable."""
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1998, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 4, 1)))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    g = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc_price()).alias("_rev"))
    )
    return (
        g.select(
            "c_custkey", "c_name",
            F.col("_rev").cast("double").alias("revenue"),
            "c_acctbal", "n_name",
        )
        .orderBy(F.col("_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TPCH_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1998-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) DESC, c_custkey ASC
    LIMIT 20
"""


def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (Q18 shape): group-HAVING on the fact,
    then semi-join back — only qualifying orderkeys cross the second
    shuffle."""
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        line.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("_sum_qty").cast("double").alias("sum_qty"),
        )
    )


TPCH_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sq AS DOUBLE) AS sum_qty
    FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (Q17 shape): correlated scalar
    subquery decorrelated into an aggregate + equi-join on partkey (what
    Catalyst does to the SQL form too)."""
    line = load_table(spark, sf_dir, "lineitem")
    brand_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    avg_qty = line.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("_half_avg")
    )
    filtered = (
        line.join(F.broadcast(brand_parts), line.l_partkey == F.col("p_partkey"))
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("_half_avg"))
    )
    out = filtered.agg(
        (F.sum(_dec("l_extendedprice")) / F.lit(7.0)).alias("_avg_yearly")
    )
    return out.select(F.col("_avg_yearly").cast("double").alias("avg_yearly"))


TPCH_Q17_SQL = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l.l_partkey)
"""


def anti_join_never_ordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: parts that never appear in lineitem. The anti
    side ships only distinct partkeys."""
    part = load_table(spark, sf_dir, "part")
    line = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(line, part.p_partkey == line.l_partkey, "left_anti")
        .select("p_partkey", "p_name", "p_brand")
    )


ANTI_JOIN_SQL = """
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
"""


# ---------------------------------------------------------------------------
# Analytic window frames (SURVEY.md §2.5 — beyond-reference, built-in)
# ---------------------------------------------------------------------------

def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue + order rank per customer: cumulative frame, rank,
    and lag in one window spec — one shuffle on custkey, sorted once."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(cum).cast("double").alias("running_total"),
        F.row_number().over(w).cast("long").alias("order_rank"),
        F.lag("o_totalprice", 1).over(w).cast("double").alias("prev_price"),
    )


WINDOW_RUNNING_SQL = """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS running_total,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_rank,
           CAST(lag(o_totalprice, 1)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS DOUBLE) AS prev_price
    FROM orders
"""


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 3-day trailing moving average over event time: a
    RANGE-interval frame (time-based, not row-count) — the canonical
    smoothing query on the point store."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))  # µs so frame edges match the
        .rangeBetween(-3 * 86400 * 1_000_000, 0)  # oracle's INTERVAL exactly
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.avg("value").over(w).alias("moving_avg"),
    )


WINDOW_MOVING_AVG_SQL = """
    SELECT event_id, user_id, ts,
           avg(value) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 3 DAYS PRECEDING
                                      AND CURRENT ROW) AS moving_avg
    FROM events
"""


def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-nation volume shipping (Q7 shape): supplier-nation ×
    customer-nation yearly revenue for one nation pair, either
    direction. Both nation dims broadcast twice under different aliases;
    the only big shuffle is lineitem⋈orders."""
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), line.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    g = joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(disc_price()).alias("_rev"))
    return g.select(
        "supp_nation", "cust_nation", "l_year",
        F.col("_rev").cast("double").alias("revenue"),
    )


TPCH_Q7_SQL = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (Q9 shape): nation × year profit over parts
    matching a name pattern. part filter applied before its broadcast;
    profit in exact decimal."""
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), line.l_suppkey == supp.s_suppkey)
        .join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    g = joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").alias("o_year"),
    ).agg(F.sum(disc_price()).alias("_profit"))
    return g.select(
        "nation", "o_year", F.col("_profit").cast("double").alias("sum_profit")
    )


TPCH_Q9_SQL = """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
"""


def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (Q19 shape): disjunctive multi-attribute
    predicate bands over part⋈lineitem — the OR-of-ANDs shape that
    exercises predicate normalization; part is filtered to the union of
    bands before broadcast so the fact scan stays tight."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
    band1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    )
    band2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity") >= 15) & (F.col("l_quantity") <= 35)
    )
    out = j.filter(band1 | band2).agg(F.sum(disc_price()).alias("_rev"))
    return out.select(F.col("_rev").cast("double").alias("revenue"))


TPCH_Q19_SQL = """
    SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 15 AND 35)
"""


def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets in one
    pass — completes the grouping-sets family next to rollup
    (SURVEY.md §2.4 'beyond-reference, built-in')."""
    from solar_logger_spark.operators.spread import spread_small

    # spread before the 4-way grouping-set Expand (one task otherwise)
    line = spread_small(load_table(spark, sf_dir, "lineitem"))
    g = line.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).alias("_qty"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.col("_qty").cast("double").alias("sum_qty"),
    )


CUBE_SQL = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes adaptable to the reduced star schema
# (no partsupp / comment / shipmode columns in the driver testdata, so
# q2/q11/q20/q21 have no faithful analog; the shapes below keep each
# query's defining plan structure.)
# ---------------------------------------------------------------------------

def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (Q8 shape): 7-table star join + yearly
    share-of-total via conditional aggregation.

    Every dimension leg is broadcast (customer→nation→region market
    selector, part filter, supplier→nation labeler); the only shuffle is
    lineitem⋈orders on orderkey, then a tiny re-agg by year. Share is a
    double ratio of two exact decimal sums, so it is bit-stable across
    partitionings.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    market_cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    econ_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") <= F.lit(datetime(1997, 12, 31)))
    )
    line = load_table(spark, sf_dir, "lineitem")
    vol = disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(market_cust), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(econ_parts), line.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), line.l_suppkey == F.col("s_suppkey"))
    )
    g = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(zero)).alias(
            "_nat"
        ),
        F.sum(vol).alias("_all"),
    )
    return g.select(
        "o_year",
        (F.col("_nat").cast("double") / F.col("_all").cast("double")).alias(
            "mkt_share"
        ),
    ).orderBy("o_year")


TPCH_Q8_SQL = """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                         AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                    AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1
    ORDER BY o_year
"""


def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment priority counts (Q12 shape): join + conditional
    aggregation. The testdata has no shipmode/commit/receipt columns, so
    'late' is l_shipdate > o_orderdate + 60 days — same plan: one
    shuffle join on orderkey, map-side CASE, tiny group."""
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    joined = line.join(orders, line.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


TPCH_Q12_SQL = """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""


def tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (Q13 shape): LEFT OUTER join
    with an extra join predicate, then a two-level aggregation (count
    per customer → histogram of counts). Customers with only filtered-out
    orders land in the 0 bucket — the left join is load-bearing."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_SQL = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (Q14 shape): broadcast join + global
    conditional-aggregation ratio, one output row."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 9, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 10, 1)))
    )
    vol = disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    g = line.join(F.broadcast(part), line.l_partkey == part.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).alias("_promo"),
        F.sum(vol).alias("_all"),
    )
    return g.select(
        (
            F.lit(100.0)
            * F.col("_promo").cast("double")
            / F.col("_all").cast("double")
        ).alias("promo_revenue")
    )


TPCH_Q14_SQL = """
    SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                       AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (Q15 shape): revenue CTE reused twice — once
    aggregated to its max, once equi-joined back against that 1-row
    broadcast. Exact decimal revenue makes the argmax deterministic."""
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 4, 1)))
    )
    rev = line.groupBy("l_suppkey").agg(F.sum(disc_price()).alias("_total"))
    mx = rev.agg(F.max("_total").alias("_mx"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("_total") == F.col("_mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("_total").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))
                   AS DECIMAL(18,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-count by part attributes (Q16 shape): anti-join against
    an excluded-supplier subquery, then COUNT(DISTINCT) per part
    attribute group. The excluded set and part dimension broadcast; the
    distinct count shuffles once on the group keys."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    line = load_table(spark, sf_dir, "lineitem")
    joined = line.join(
        F.broadcast(excluded), line.l_suppkey == F.col("s_suppkey"), "left_anti"
    ).join(F.broadcast(part), line.l_partkey == part.p_partkey)
    return (
        joined.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
    )


TPCH_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (Q22 shape): uncorrelated scalar
    subquery (average balance threshold) + anti-join (customers with no
    urgent orders; the testdata gives every customer at least one order,
    so the original no-orders predicate would be vacuous) + group by
    nation. The scalar attaches via a broadcast 1-row cross join — the
    same plan Spark produces for the SQL scalar subquery, constant cost
    at any scale (plan_audit whitelists it). Balance sums are exact
    decimal."""
    cust = load_table(spark, sf_dir, "customer")
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("_thr")
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    nation = load_table(spark, sf_dir, "nation")
    rich = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("_thr")
    )
    dormant = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        dormant.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


TPCH_Q22_SQL = """
    SELECT n_name, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / count(*)
            FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    ORDER BY n_name
"""


def interval_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks-before-purchase attribution via the binned interval join:
    for every purchase event, how many clicks the same user made in the
    preceding 10 minutes. Zero-click purchases are kept (left_outer)."""
    from solar_logger_spark.operators.interval_join import interval_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event"),
    )
    joined = interval_join(
        purchases.withColumnRenamed("user_id", "p_user"),
        clicks.withColumnRenamed("c_user", "p_user"),
        keys=["p_user"],
        lower="-10m",
        upper="0s",
        left_ts="ts",
        right_ts="c_ts",
        how="left_outer",
    )
    return (
        joined.groupBy("event_id")
        .agg(F.count("c_event").cast("long").alias("n_clicks"))
        .select("event_id", "n_clicks")
    )


INTERVAL_ATTRIBUTION_SQL = """
    SELECT p.event_id, CAST(count(c.event_id) AS BIGINT) AS n_clicks
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1
"""


def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (Q2 shape): the correlated-min pattern —
    for each qualifying part, keep only the supplier(s) offering the
    minimum supply cost within a region.

    The testdata has no partsupp table, so (as in Q16/Q20's shapes)
    lineitem stands in as the part-supplier relation with
    supplycost := min observed extendedprice per (part, supplier) —
    exact DECIMAL so the correlated equality is bit-stable. The
    correlated subquery becomes a window min PARTITIONED by p_partkey
    (no global window; the per-part groups shuffle-hash) — the plan
    Spark generates for the SQL form as well. Dimensions broadcast."""
    line = load_table(spark, sf_dir, "lineitem")
    ps = line.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec("l_extendedprice")).alias("supplycost")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "SMALL")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    sup_eu = (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(sup_eu), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    best = offers.withColumn(
        "_min_cost", F.min("supplycost").over(w)
    ).filter(F.col("supplycost") == F.col("_min_cost"))
    return (
        best.select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


TPCH_Q2_SQL = """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
        FROM lineitem GROUP BY 1, 2
    ), offers AS (
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost,
               min(supplycost) OVER (PARTITION BY p_partkey) AS min_cost
        FROM ps
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size <= 10 AND p_type = 'SMALL' AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           CAST(supplycost AS DOUBLE) AS supplycost
    FROM offers WHERE supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock identification (Q11 shape): per-part inventory
    value from one nation's suppliers, kept only where it exceeds a
    fraction of the GLOBAL total — the HAVING-against-global-scalar
    pattern.

    Value := sum of exact DECIMAL extendedprice over the nation's
    lineitems (partsupp stand-in, as Q2/Q16/Q20 shapes). The global
    total reuses the same per-part aggregate (one shuffle) and attaches
    as a broadcast 1-row cross join — the plan Spark builds for the SQL
    scalar subquery; the threshold compare stays exact DECIMAL."""
    line = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_9"
    )
    sup_n = sup.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    per_part = (
        line.join(F.broadcast(sup_n), line.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value"))
    )
    total = per_part.agg(
        (F.sum("value") * F.lit(0.001).cast("decimal(4,3)")).alias("_thr")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("_thr"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


TPCH_Q11_SQL = """
    WITH per_part AS (
        SELECT l_partkey AS ps_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_9'
        GROUP BY 1
    )
    SELECT ps_partkey, CAST(value AS DOUBLE) AS value
    FROM per_part
    WHERE value > (SELECT sum(value) * CAST(0.001 AS DECIMAL(4,3))
                   FROM per_part)
    ORDER BY value DESC, ps_partkey
"""


def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (Q20 shape): nested semi-join chain —
    suppliers qualify when their 1997 shipped quantity of name-matched
    parts exceeds a sixth of their all-time shipped quantity of those
    parts (the original's availqty > 0.5 * shipped, with the correlated
    threshold computed from the same relation; shipdates span 7 years,
    so 1/6 selects the ~30% of suppliers that over-indexed on 1997).

    Both sides of the correlated compare come out of ONE aggregate over
    the part-filtered lineitem (conditional sum), so the correlation
    costs no extra shuffle; part broadcasts into the fact scan and the
    supplier dimension broadcasts into the final semi-join. Quantities
    are summed as exact DECIMAL."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    )
    qty = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
                    & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1))),
                    _dec("l_quantity"),
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            ).alias("qty_1997"),
            F.sum(_dec("l_quantity")).alias("qty_total"),
        )
    )
    qualifying = qty.filter(
        F.col("qty_1997") * F.lit(6).cast("decimal(2,0)") > F.col("qty_total")
    ).select("l_suppkey")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.join(qualifying, sup.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


TPCH_Q20_SQL = """
    WITH qty AS (
        SELECT l_suppkey,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate < TIMESTAMP '1998-01-01'
                        THEN CAST(l_quantity AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS qty_1997,
               sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_total
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
        GROUP BY 1
    )
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM qty
                        WHERE qty_1997 * 6 > qty_total)
    ORDER BY s_name
"""


def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (Q21 shape): in finished
    multi-supplier orders, count per supplier the orders where that
    supplier was the ONLY late one.

    The testdata lacks commit/receipt dates, so "late" :=
    shipped > 60 days after the order date. The classic formulation is
    a quadruple self-join (EXISTS + NOT EXISTS over lineitem); here it
    collapses into two hash aggregates — per (order, supplier)
    lateness, then per order a supplier count / late count / sole late
    supplier — which shuffles the fact rows once on l_orderkey instead
    of three more self-join exchanges. The oracle states the same
    aggregation in SQL; results are identical because EXISTS semantics
    reduce to these counts."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    line = load_table(spark, sf_dir, "lineitem")
    per_os = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
                ).cast("int")
            ).alias("is_late")
        )
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("nsupp"),
        F.sum("is_late").alias("nlate"),
        F.max(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("late_supp"),
    )
    waiting = per_order.filter(
        (F.col("nsupp") > 1) & (F.col("nlate") == 1)
    )
    sup = load_table(spark, sf_dir, "supplier")
    # final aggregate is BY NAME (after the join), exactly like the
    # oracle's GROUP BY s_name — grouping by suppkey would diverge if
    # two suppliers ever shared a name
    return (
        waiting.join(F.broadcast(sup), F.col("late_supp") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


TPCH_Q21_SQL = """
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY 1, 2
    ), per_order AS (
        SELECT l_orderkey, count(*) AS nsupp, sum(is_late) AS nlate,
               max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
        FROM per_os GROUP BY 1
    )
    SELECT s_name, count(*) AS numwait
    FROM per_order JOIN supplier ON late_supp = s_suppkey
    WHERE nsupp > 1 AND nlate = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase within 7 days of
    signup): users counted at each stage only if the stage event
    happens strictly AFTER their previous stage's first event — the
    classic product-analytics funnel.

    Three user-keyed hash aggregations chained by broadcast-joining the
    (one row per user) stage tables back into the filtered event scan —
    each stage shuffles events once on user_id and the stage tables
    stay tiny. No windows, no ordering, exact long counts."""
    events = load_table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.first("t_signup").alias("t_signup"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_signup") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stages = [
        ("1_signup", s1),
        ("2_click_after_signup", s2),
        ("3_purchase_after_click", s3),
    ]
    counts = [
        df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        for name, df in stages
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("stage")


FUNNEL_SQL = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t_click, any_value(s1.t_signup) AS t_signup
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click'
          AND e.ts > s1.t_signup AND e.ts <= s1.t_signup + INTERVAL 7 DAY
        GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.t_click AND e.ts <= s2.t_signup + INTERVAL 7 DAY
        GROUP BY 1
    )
    SELECT stage, n_users FROM (
        SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
        UNION ALL
        SELECT '2_click_after_signup', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM s3
    ) ORDER BY stage
"""


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    FIRST event; for each cohort, distinct users active 0-3 weeks
    later — the standard cohort-retention triangle.

    Weeks are integer epoch-week numbers (floor(epoch_seconds / 7d)
    from the Unix origin) on both engines — no date_trunc('week')
    dependence on week-start conventions. Two user_id-keyed hash
    aggregations joined back on user_id (NO broadcast hint: the
    first-event table is one row PER USER and grows without bound, so
    the join must be allowed to shuffle; AQE still broadcasts it while
    it is small); the distinct count shuffles on the bounded
    (cohort_week, week_offset) keys."""
    events = load_table(spark, sf_dir, "events")
    wk = 7 * 86400 * 1_000_000  # µs per week
    first = events.groupBy("user_id").agg(
        F.floor(F.min(epoch_us("ts")) / wk).cast("long").alias("cohort_week")
    )
    joined = events.join(first, "user_id").select(
        "user_id",
        "cohort_week",
        (F.floor(epoch_us("ts") / wk).cast("long") - F.col("cohort_week")).alias(
            "week_offset"
        ),
    )
    return (
        joined.filter(F.col("week_offset") <= 3)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_SQL = """
    WITH first_ev AS (
        SELECT user_id,
               CAST(floor(epoch_us(min(ts)) / 604800000000) AS BIGINT) AS cohort_week
        FROM events GROUP BY 1
    )
    SELECT cohort_week,
           CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT) - cohort_week
               AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first_ev USING (user_id)
    WHERE CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT) - cohort_week <= 3
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# registry rows: (name, builder, oracle SQL), in registry order
QUERIES = (
    ("tpch_q1_pricing_summary", tpch_q1, TPCH_Q1_SQL),
    ("tpch_q3_shipping_priority", tpch_q3, TPCH_Q3_SQL),
    ("tpch_q5_nation_revenue", tpch_q5, TPCH_Q5_SQL),
    ("join_part_brand_volume", join_part_brand_volume, JOIN_PART_BRAND_SQL),
    ("topk_orders_per_customer", topk_orders_per_customer, TOPK_ORDERS_SQL),
    ("distinct_users_per_type", distinct_users_per_type, DISTINCT_USERS_SQL),
    ("set_purchase_days_without_errors", set_purchase_days_without_errors,
     SET_EXCEPT_SQL),
    ("rollup_event_counts", rollup_event_counts, ROLLUP_SQL),
    ("sessionize_events", sessionize_events, SESSIONIZE_SQL),
    ("asof_purchase_attribution", asof_purchase_attribution,
     ASOF_ATTRIBUTION_SQL),
    ("tpch_q6_forecast_revenue", tpch_q6, TPCH_Q6_SQL),
    ("tpch_q4_order_priority", tpch_q4_shape, TPCH_Q4_SQL),
    ("tpch_q10_returned_items", tpch_q10, TPCH_Q10_SQL),
    ("tpch_q18_large_orders", tpch_q18_shape, TPCH_Q18_SQL),
    ("tpch_q17_small_qty_revenue", tpch_q17_shape, TPCH_Q17_SQL),
    ("anti_join_never_ordered_parts", anti_join_never_ordered_parts,
     ANTI_JOIN_SQL),
    ("window_running_totals", window_running_totals, WINDOW_RUNNING_SQL),
    ("window_moving_avg", window_moving_avg, WINDOW_MOVING_AVG_SQL),
    ("tpch_q7_bination_volume", tpch_q7_shape, TPCH_Q7_SQL),
    ("tpch_q9_product_profit", tpch_q9_shape, TPCH_Q9_SQL),
    ("tpch_q19_discounted_revenue", tpch_q19_shape, TPCH_Q19_SQL),
    ("cube_returnflag_status", cube_returnflag_status, CUBE_SQL),
    ("tpch_q8_market_share", tpch_q8_shape, TPCH_Q8_SQL),
    ("tpch_q12_late_priority", tpch_q12_shape, TPCH_Q12_SQL),
    ("tpch_q13_order_distribution", tpch_q13_shape, TPCH_Q13_SQL),
    ("tpch_q14_promo_share", tpch_q14_shape, TPCH_Q14_SQL),
    ("tpch_q15_top_supplier", tpch_q15_shape, TPCH_Q15_SQL),
    ("tpch_q16_supplier_counts", tpch_q16_shape, TPCH_Q16_SQL),
    ("tpch_q22_dormant_customers", tpch_q22_shape, TPCH_Q22_SQL),
    ("tpch_q2_min_cost_supplier", tpch_q2_shape, TPCH_Q2_SQL),
    ("tpch_q11_important_stock", tpch_q11_shape, TPCH_Q11_SQL),
    ("tpch_q20_part_promotion", tpch_q20_shape, TPCH_Q20_SQL),
    ("tpch_q21_waiting_suppliers", tpch_q21_shape, TPCH_Q21_SQL),
    ("funnel_conversion_events", funnel_conversion_events, FUNNEL_SQL),
    ("retention_cohorts_events", retention_cohorts_events, RETENTION_SQL),
    ("interval_click_attribution", interval_click_attribution,
     INTERVAL_ATTRIBUTION_SQL),
)
