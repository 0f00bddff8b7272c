"""Showcase star-schema analytics.

The reference has no GROUP BY at all (SURVEY §2.4 A5), so these are the
free-surface analytics queries that prove the engine's Catalyst-first design:
classic TPC-H-shaped plans over the driver's star schema, written so the
optimizer produces the plan we'd want at 100 TB (broadcast dims, partial
aggs, TakeOrderedAndProject for top-k, pushed filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "q40_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q40_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one scan, map-side partial aggregation
    into a handful of groups — the shuffle carries ~groups x partitions rows
    regardless of table size, so the plan is identical at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q41_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q41_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: filtered customer dim broadcasts
    into orders, the o_orderdate filter pushes to the orders scan, and the
    final top-10 is TakeOrderedAndProject over the aggregated (small) set."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.filter(F.col("o_orderdate") < F.lit("1996-03-15 00:00:00").cast("timestamp"))
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            li.filter(F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q42_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def q42_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local supplier volume: a 6-table star join where every
    dimension (customer, supplier, nation, region) broadcasts; the only
    shuffle is orders-lineitem on the order key. AQE re-plans if lineitem's
    key distribution is skewed."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_nations = (
        nation.join(F.broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q43_segment_spend",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spend,
           round(avg(o_totalprice), 4) AS avg_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q43_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order spend: broadcast dim join + grouped multi-aggregate."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_spend"),
        )
    )


@register(
    "q44_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q44_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order priority check: correlated EXISTS over lineitem.

    A left-semi join can only broadcast its RIGHT side — here that's
    lineitem, the fact table — so the straightforward semi-join shuffles
    BOTH sides on the order key. Instead, probe from the lineitem side: the
    3-month filtered orders slice is small at any scale factor (~1/80th of
    orders), so broadcast it into an inner join that never moves lineitem,
    then collapse matches to one row per order. The dedup groupBy does
    map-side partial aggregation, so the only shuffle carries at most the
    qualifying-order keys — the semi join's output, not its input."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    filtered = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    late = li.select("l_orderkey", "l_shipdate")
    qualifying = (
        late.join(
            F.broadcast(filtered),
            (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
            "inner",
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.lit(1).alias("_one"))
    )
    return qualifying.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q45_percentiles",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q45_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per segment (Spark `percentile` == DuckDB
    quantile_cont, both linear-interpolation): the latency/SLA-style
    analytics the reference's health monitor approximates with averages
    (db.mjs:415-419). At 100 TB switch to percentile_approx — same plan
    shape, bounded memory, no exact-sort of each group."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "q46_pivot",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'error') AS error
    FROM events
    GROUP BY user_id % 10
    """,
)
def q46_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation): event-type counts per user
    bucket. The explicit value list keeps the plan a single pass — an
    unconstrained pivot() first runs a distinct scan to discover columns."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "error"])
    )


@register(
    "q18_revenue_delta",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q18_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecasting-revenue-change: pure filter + global agg.
    All four predicates push to the parquet scan (min/max row-group skip on
    l_shipdate), and the aggregation is a partial->final pair whose shuffle
    carries exactly one row per partition — the cheapest possible shape at
    100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue_delta"))
    )


@register(
    "q19_nation_trade_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
)
def q19_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: a 6-table snowflake join.
    supplier/customer/nation are broadcast (they stay small relative to the
    fact tables at any SF); the only shuffle joins the two fact tables
    lineitem><orders on orderkey, and AQE can convert even that to broadcast
    after the shipdate filter prunes. The nation-pair predicate is applied
    on the broadcast side before the join, so disqualified rows never reach
    the fact-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    supp = supplier.join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    cust = customer.join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1997-12-31 00:00:00").cast("timestamp"),
            )
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("volume")
        )
    )


@register(
    "q20_dormant_rich_customers",
    oracle="""
    SELECT c_nationkey,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
)
def q20_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant high-balance customers: scalar subquery
    (global avg, one tiny broadcast) + anti join against recent orders.
    The anti join's build side is only the date-filtered orders keys; at
    100 TB the o_orderdate predicate prunes partitions before the shuffle.
    (The classic Q22 'no orders at all' form is empty on this dataset —
    every customer has orders — so the horizon makes it selective.)"""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("ab"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q47_promo_revenue",
    oracle="""
    SELECT round(
             100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q47_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share: fact><dim broadcast join, then
    one conditional global aggregate. part is the broadcast side (it grows
    with SF but stays orders of magnitude under lineitem; at 100 TB bucket
    both on partkey instead — operators.bucketing — and the join is still
    shuffle-free)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0)))
                / F.sum(disc_price),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q48_returned_item_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(max(c_acctbal), 2) AS acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q48_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue: who returned the most value
    last quarter. lineitem is pre-filtered on l_returnflag before the
    orderkey shuffle; customer/nation broadcast; final top-20 is
    TakeOrderedAndProject with c_custkey tiebreak."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    window_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        returned.join(window_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q49_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q49_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume customers: the IN-subquery over a
    grouped HAVING becomes an aggregate + semi join. The qualifying-order
    set is tiny (aggregation reduces before the join), so AQE broadcasts
    it into both the orders probe and the lineitem re-aggregation — the
    big tables are each scanned once."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty")).filter(F.col("qty") > 300)
    ).select("l_orderkey")
    return (
        orders.join(
            big_orders.withColumnRenamed("l_orderkey", "bo_key"),
            F.col("bo_key") == F.col("o_orderkey"),
            "left_semi",
        )
        .join(F.broadcast(customer.select("c_custkey", "c_name")), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.select("l_orderkey", "l_quantity"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"), "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "q85_rollup_hierarchy",
    oracle="""
    WITH minute AS (
      SELECT date_trunc('minute', ts) AS bucket,
             count(*) AS n_events, sum(value) AS sum_value
      FROM events GROUP BY bucket
    ),
    hour AS (
      SELECT date_trunc('hour', bucket) AS bucket,
             sum(n_events) AS n_events, sum(sum_value) AS sum_value
      FROM minute GROUP BY 1
    ),
    day AS (
      SELECT date_trunc('day', bucket) AS bucket,
             sum(n_events) AS n_events, sum(sum_value) AS sum_value
      FROM hour GROUP BY 1
    )
    SELECT 'hour' AS grain, bucket, CAST(n_events AS BIGINT) AS n_events,
           round(sum_value, 2) AS sum_value FROM hour
    UNION ALL
    SELECT 'day' AS grain, bucket, CAST(n_events AS BIGINT) AS n_events,
           round(sum_value, 2) AS sum_value FROM day
    """,
)
def q85_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    pattern): minute partials re-aggregate into hours, hours into days —
    each coarser grain reads the FINER AGGREGATE, not the raw events, so
    the raw table is scanned exactly once however many resolutions exist.
    At 100 TB the minute level is the materialized rollup table and the
    coarser grains are near-free; count/sum compose losslessly this way
    (averages derive as sum/count at read time; percentiles need sketches,
    see q36)."""
    events = load_table(spark, sf_dir, "events")
    minute = events.groupBy(F.date_trunc("minute", F.col("ts")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    hour = minute.groupBy(F.date_trunc("hour", F.col("bucket")).alias("bucket")).agg(
        F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
    )
    day = hour.groupBy(F.date_trunc("day", F.col("bucket")).alias("bucket")).agg(
        F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
    )
    def shaped(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            "n_events",
            F.round(F.col("sum_value"), 2).alias("sum_value"),
        )
    return shaped(hour, "hour").unionAll(shaped(day, "day"))


# Incremental-refresh boundary for q126: everything before the cutoff is the
# "already materialized" rollup; at/after it is the newly arrived batch. The
# cutoff is deliberately NOT hour-aligned so the 06:00 bucket straddles it —
# the merge of stored partials with fresh partials is actually exercised.
_REFRESH_CUTOFF = "2024-01-28 06:30:00"


@register(
    "q126_incremental_rollup_merge",
    oracle=f"""
    -- Mirrors the engine's stored-partial + fresh-partial merge STRUCTURE
    -- (not just its value): the straddling bucket's double sum is
    -- round(stored_partial + fresh_partial) on both sides, so summation
    -- order cannot diverge at a rounding boundary the way a flat
    -- sum-over-raw-rows rewrite could (q85 applies the same principle).
    WITH stored AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, sum(value) AS s
      FROM events WHERE ts < TIMESTAMP '{_REFRESH_CUTOFF}' GROUP BY 1
    ),
    fresh AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, sum(value) AS s
      FROM events WHERE ts >= TIMESTAMP '{_REFRESH_CUTOFF}' GROUP BY 1
    )
    SELECT bucket,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(s), 2) AS sum_value
    FROM (
      SELECT * FROM stored WHERE bucket IN (SELECT bucket FROM fresh)
      UNION ALL
      SELECT * FROM fresh
    )
    GROUP BY bucket
    """,
)
def q126_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh (the TimescaleDB hypertable maintenance
    pattern q85 materializes): when a new batch of events arrives, only the
    hour buckets it touches are refreshed, by MERGING the stored rollup's
    partials (count/sum compose losslessly) with partials computed over the
    new batch alone — the historical raw data is never re-scanned. Here the
    pre-cutoff rollup stands in for the stored aggregate; at 100 TB it is a
    table thousands of times smaller than the raw events, and the semi join
    on touched buckets prunes the refresh to the dirty set. The mid-hour
    cutoff makes the straddling 06:00 bucket merge stored + fresh partials
    for real. The oracle recomputes the same buckets from ALL raw events,
    proving the merge path equals a from-scratch rebuild."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_REFRESH_CUTOFF).cast("timestamp")
    bucket = F.date_trunc("hour", F.col("ts")).alias("bucket")
    partials = lambda df: df.groupBy(bucket).agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    stored = partials(events.filter(F.col("ts") < cutoff))  # the "materialized" rollup
    fresh = partials(events.filter(F.col("ts") >= cutoff))  # new partition only
    touched = fresh.select("bucket")
    merged = (
        stored.join(F.broadcast(touched), "bucket", "left_semi")
        .unionAll(fresh)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n_events"), F.round(F.sum("s"), 2).alias("sum_value"))
    )
    return merged


# Columns covered by the orders content checksum: every non-float column.
# Floats are excluded on purpose — their string rendering is not part of
# the cross-engine contract, and a checksum must never be rendering-defined.
_CHECKSUM_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "q121_group_checksum",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_rows,
           CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
               {", ".join(f"CAST({c} AS VARCHAR)" for c in _CHECKSUM_COLS)}
           )), 1, 12)) AS BIGINT)) AS VARCHAR) AS checksum
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q121_group_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per group: each row's canonical
    '|'-joined rendering is md5'd, the first 48 bits are summed (addition
    commutes, so row order, partitioning, and file layout never change the
    digest), and the sum is carried as DECIMAL(38,0) so it cannot overflow
    below ~10^24 rows. This is how you verify a 100 TB copy or migration
    shard-by-shard: one map over each side, a partial-aggregated sum — no
    sort, no row transfer, and any single-row difference flips the group's
    checksum. Emitted as a string so both engines compare digits, not
    numeric types."""
    orders = load_table(spark, sf_dir, "orders")
    row_hash = F.expr(
        "CAST(conv(substr(md5(concat_ws('|', "
        + ", ".join(f"CAST({c} AS STRING)" for c in _CHECKSUM_COLS)
        + ")), 1, 12), 16, 10) AS DECIMAL(38,0))"
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).cast("string").alias("checksum"),
    )


@register(
    "q134_approx_percentile_bound",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS exact_p50,
           round(quantile_cont(n_chars, 0.99), 4) AS exact_p99,
           TRUE AS approx_within_bound
    FROM documents
    GROUP BY lang
    """,
)
def q134_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch via
    percentile_approx) audited against the exact values — the sketch path
    q45/q122's docstrings point to for 100 TB, where an exact per-group
    sort is off the table but a mergeable fixed-memory sketch is not.
    Like q36's HLL check: the sketch estimate itself is engine-specific, so
    the oracle hash-checks the exact percentiles plus a boolean asserting
    the approx values land inside the sketch's configured rank-error bound
    (accuracy 1000 -> rank error <= 0.1%, checked here against the value at
    rank +-1% for slack on small groups); an out-of-bound sketch breaks the
    driver hash instead of being invisible."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("exact_p50"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("exact_p99"),
        F.expr("percentile_approx(n_chars, 0.5, 1000)").alias("ap50"),
        F.expr("percentile_approx(n_chars, 0.99, 1000)").alias("ap99"),
        F.expr("percentile(n_chars, 0.49)").alias("lo50"),
        F.expr("percentile(n_chars, 0.51)").alias("hi50"),
        F.expr("percentile(n_chars, 0.98)").alias("lo99"),
        F.expr("percentile(n_chars, 1.0)").alias("hi99"),
    )
    within = (
        (F.col("ap50") >= F.col("lo50")) & (F.col("ap50") <= F.col("hi50"))
        & (F.col("ap99") >= F.col("lo99")) & (F.col("ap99") <= F.col("hi99"))
    )
    return agg.select(
        "lang", "n_docs", "exact_p50", "exact_p99", within.alias("approx_within_bound")
    )


# --- q207: foreign-key integrity audit ----------------------------------------


@register(
    "q207_fk_integrity_audit",
    oracle="""
    SELECT 'orders.custkey' AS fk, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.orderkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.partkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.suppkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'customer.nationkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY fk
    """,
)
def q207_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for every FK edge (orders->customer, lineitem->orders/part/supplier,
    customer->nation) — the ingest-validation gate a warehouse runs after
    every load, since parquet enforces no constraints (the reference gets
    this for free from SQLite FKs, db.mjs DDL). Zero orphans is the
    contract; a nonzero count names the broken edge.

    Scale posture: each edge is one LEFT join probing the smaller parent
    side (dimension parents broadcast under AQE; the lineitem->orders edge
    shuffles on the natural key, exactly what validating a corpus-sized FK
    costs); counts are map-side-combined aggregates."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def edge(name, child, ckey, parent, pkey):
        return (
            child.select(F.col(ckey))
            .join(parent.select(F.col(pkey)), child[ckey] == parent[pkey], "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col(pkey).isNull().cast("int")).cast("bigint").alias("orphans"),
            )
            .select("fk", "n_rows", "orphans")
        )

    return (
        edge("orders.custkey", o, "o_custkey", c, "c_custkey")
        .unionByName(edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(edge("lineitem.partkey", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("lineitem.suppkey", li, "l_suppkey", s, "s_suppkey"))
        .unionByName(edge("customer.nationkey", c, "c_nationkey", n, "n_nationkey"))
        .orderBy("fk")
    )


@register(
    "q311_ship_sla_attainment",
    oracle="""
    WITH lags AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_d
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(lag_d) AS BIGINT) AS min_days,
           round(quantile_cont(lag_d, 0.5), 4) AS p50_days,
           round(quantile_cont(lag_d, 0.9), 4) AS p90_days,
           round(quantile_cont(lag_d, 0.99), 4) AS p99_days,
           CAST(max(lag_d) AS BIGINT) AS max_days,
           round(CAST(sum(CASE WHEN lag_d <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS sla_90d
    FROM lags
    GROUP BY priority
    ORDER BY priority
    """,
)
def q311_ship_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA per order priority: exact integer day
    lags from order date to each line's ship date, interpolated
    p50/p90/p99, and the share shipped within a 90-day SLA — the ops
    dashboard that answers whether the priority field DOES anything
    (a 1-URGENT line shipping no faster than 5-LOW is a broken
    fulfillment queue; the reference's whole domain is a priority queue,
    so this is its fact-side audit, q01's dequeue discipline measured
    after the fact).

    Determinism: lags are exact integer days; the interpolated
    percentiles follow the shared R-7 convention on integer inputs
    ((a + b)/2-style exact dyadic interpolants — the q282 median
    argument); the SLA share is an exact-count ratio.

    Scale posture: the one fact-fact join (orders x lineitem) shuffles
    on orderkey; per-priority exact percentiles aggregate within the 5
    priority groups — memory bounded by the largest group's lag
    multiset, the documented exact-percentile posture (q45); at 100 TB
    the drop-in replacement is approx_percentile with the q134 bound
    audit."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lags = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("lag_d"),
    )
    return (
        lags.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("lag_d").cast("bigint").alias("min_days"),
            F.round(F.expr("percentile(lag_d, 0.5)"), 4).alias("p50_days"),
            F.round(F.expr("percentile(lag_d, 0.9)"), 4).alias("p90_days"),
            F.round(F.expr("percentile(lag_d, 0.99)"), 4).alias("p99_days"),
            F.max("lag_d").cast("bigint").alias("max_days"),
            F.round(
                F.sum(F.when(F.col("lag_d") <= 90, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("sla_90d"),
        )
        .orderBy("priority")
    )


# --- q314: rounding-margin audit (the determinism rule made checkable) --------

# The oracle comparison rounds float aggregates in both engines; the sweep
# test (tests/test_oracle_parity.py::test_rounded_value_margins_clear_of_
# boundaries) proves most compared values sit far from a rounding decision
# boundary. Two classes sit ON it by construction and are exempted there:
# decimal-grid sums (4-decimal money rounded at 2 decimals — q41/q48) and
# closed-form rational scores (q62's quality grid). Their safety premise is
# BIT-EQUALITY of the pre-round double across engines, not margin — and this
# query converts that premise into a per-round checked fact: it emits the
# measured boundary margins themselves, so if either engine's summation ever
# drifts by one ulp, the margin columns (and sub-ulp censuses) hash-mismatch
# and the driver flags it. The q241 emit-the-measured-error discipline
# applied to rounding.


@register(
    "q314_rounding_margin_audit",
    oracle="""
    WITH rev AS (
      SELECT CAST('q41_revenue_grid' AS VARCHAR) AS audit_class,
             sum(l_extendedprice * (1 - l_discount)) * 100.0 AS y
      FROM lineitem GROUP BY l_orderkey
    ),
    qual AS (
      SELECT CAST('q62_quality_grid' AS VARCHAR) AS audit_class,
             (CASE WHEN len(toks) / 100.0 < 1.0 THEN len(toks) / 100.0 ELSE 1.0 END * 0.5
              + CASE WHEN len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and')))
                          / CAST(len(toks) AS DOUBLE) * 5.0 < 1.0
                     THEN len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and')))
                          / CAST(len(toks) AS DOUBLE) * 5.0
                     ELSE 1.0 END * 0.5) * 10000.0 AS y
      FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
    ),
    ys AS (SELECT * FROM rev UNION ALL SELECT * FROM qual),
    m AS (
      SELECT audit_class, y,
             abs(y - floor(y) - 0.5)
               / (CASE WHEN abs(y) > 1.0 THEN abs(y) ELSE 1.0 END
                  * CAST(power(2.0, -52.0) AS DOUBLE)) AS margin_ulps
      FROM ys
    )
    SELECT audit_class,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(CASE WHEN margin_ulps = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_half,
           CAST(sum(CASE WHEN margin_ulps > 0.0 AND margin_ulps < 1.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sub_ulp,
           CAST(sum(CASE WHEN margin_ulps >= 1.0 AND margin_ulps < 16.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_16_ulps,
           round(min(CASE WHEN margin_ulps > 0.0 THEN margin_ulps END), 4)
             AS min_nonzero_margin_ulps
    FROM m GROUP BY audit_class ORDER BY audit_class
    """,
)
def q314_rounding_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured distance-to-rounding-boundary for the two compared-value
    classes whose true values sit ON the boundary by construction: per-order
    revenue sums (4-decimal money rounded at 2 decimals, y = sum*100) and
    the q62 quality grid (rational score rounded at 4 decimals, y = q*1e4).
    Emits, per class, the exact-half census, the sub-ulp census (values a
    1-ulp engine drift could flip), the 16-ulp neighborhood, and the
    smallest nonzero margin in ulps of y. The VALUE of this query is the
    comparison itself: both engines must produce bit-identical y for the
    margins to hash-match, so a summation-order or expression-form drift in
    either engine fails THIS query loudly instead of silently flipping a
    rounded output elsewhere.

    Scale posture: two map-side-combined HashAggregates (per-order sums,
    per-doc scores) reduced to 2 output rows; margin arithmetic is pure
    column math on the aggregate. Nothing is collected."""
    from .text import STOPWORDS

    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100.0)
            .alias("y")
        )
        .select(F.lit("q41_revenue_grid").alias("audit_class"), "y")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tokens.cast(
        "double"
    )
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.5
    )
    qual = docs.select(
        F.lit("q62_quality_grid").alias("audit_class"),
        (quality * 10000.0).alias("y"),
    )
    ys = rev.unionByName(qual)
    margin = F.abs(F.col("y") - F.floor("y") - 0.5) / (
        F.greatest(F.abs("y"), F.lit(1.0)) * F.lit(2.0**-52)
    )
    m = ys.select("audit_class", margin.alias("margin_ulps"))
    return (
        m.groupBy("audit_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.sum((F.col("margin_ulps") == 0.0).cast("int"))
            .cast("bigint")
            .alias("n_exact_half"),
            F.sum(
                ((F.col("margin_ulps") > 0.0) & (F.col("margin_ulps") < 1.0)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_sub_ulp"),
            F.sum(
                (
                    (F.col("margin_ulps") >= 1.0) & (F.col("margin_ulps") < 16.0)
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_within_16_ulps"),
            F.round(
                F.min(F.when(F.col("margin_ulps") > 0.0, F.col("margin_ulps"))), 4
            ).alias("min_nonzero_margin_ulps"),
        )
        .orderBy("audit_class")
    )
