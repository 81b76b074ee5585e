"""relational_p1 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS {_DEC})), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC})), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS DECIMAL(9,4)) * CAST(1 + l_tax AS DECIMAL(9,4))), 2) AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan + filter + hash aggregate.
    Filter pushes to the parquet scan; partial aggregation is map-side."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    dec4 = lambda e: e.cast(_DEC4)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * dec4(F.lit(1) - F.col("l_discount"))), 2
            )
            .cast("double")
            .alias("sum_disc_price"),
            # factor casts sized so the triple product is exactly
            # (18,2)×(9,4)×(9,4) → decimal(38,10): fits the 38-precision cap
            # in BOTH engines, so no mid-expression trimming can diverge
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(9,4)")
                    * (F.lit(1) + F.col("l_tax")).cast("decimal(9,4)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → joins → agg → top-k.
    customer is small relative to lineitem — broadcast it; lineitem↔orders
    is the one real shuffle."""
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    dec = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(dec), 2).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style six-way join. All dims broadcast; the only large
    shuffle is lineitem↔orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dec = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(dec), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    require_rows=True,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no HIGH-VALUE order. The anti side
    is a filtered orders subset (o_totalprice > 400000, pushed to the
    scan) rather than all orders, because the driver's synthetic data
    gives every customer ~10 orders — an unfiltered anti-join is empty at
    every sf and the gate passed 0==0 vacuously (round-8 verdict finding
    #2). The filtered shape returns 20/202/1997 customers at
    sf0.001/0.01/0.1, so the anti semantics are actually exercised."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_outer_order_lineitem_counts",
    oracle="""
    SELECT o_orderkey, COUNT(l_orderkey) AS n_items
    FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey ORDER BY o_orderkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_items"))
        .orderBy("o_orderkey")
    )


@register(
    "agg_rollup_nation_region",
    oracle=f"""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(CASE WHEN GROUPING(n_name) = 1 THEN NULL ELSE n_name END, 'ALL') AS nation_name,
           CAST(ROUND(SUM(CAST(c_acctbal AS {_DEC})), 2) AS DOUBLE) AS total_acctbal,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region_name, nation_name
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("c_acctbal").cast(_DEC)), 2).cast("double").alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
        .orderBy("region_name", "nation_name")
    )


@register(
    "agg_cube_priority_status",
    oracle=f"""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY priority, status
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
        .orderBy("priority", "status")
    )


@register(
    "set_ops_nations",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS which, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'customer_only' AS which, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    ORDER BY which, nationkey
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    sn = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = cn.intersect(sn).select(F.lit("both").alias("which"), "nationkey")
    conly = cn.exceptAll(sn).select(
        F.lit("customer_only").alias("which"), "nationkey"
    )
    return both.unionAll(conly).orderBy("which", "nationkey")


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's latest-version-per-key semantics (SURVEY §2.2 P5) as
    a general operator."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


@register(
    "events_json_extraction",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON shredding (the envelope-projection operator P1 generalized):
    get_json_object stays JVM-side."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint"))
            .cast("bigint")
            .alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming tumbling-window aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        F.coalesce("click", F.lit(0)).cast("bigint").alias("click"),
        F.coalesce("purchase", F.lit(0)).cast("bigint").alias("purchase"),
        F.coalesce("view", F.lit(0)).cast("bigint").alias("view"),
    ).orderBy("user_id")


@register(
    "agg_stats_per_status",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           ROUND(AVG(o_totalprice), 4) AS avg_price,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_stats_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "percentiles_order_price",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) — Spark `percentile` and
    DuckDB `quantile_cont` share the interpolation rule."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "count_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "orders_per_month",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n_orders
    FROM orders GROUP BY 1 ORDER BY month
    """,
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("month")
    )


@register(
    "string_functions_parts",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN lower(p_name) LIKE '%green%' THEN 1 ELSE 0 END) AS BIGINT) AS n_green,
           MIN(upper(substr(p_type, 1, 5))) AS first_type
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def string_functions_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.lower("p_name").like("%green%"), 1).otherwise(0)
            ).cast("bigint").alias("n_green"),
            F.min(F.upper(F.substring("p_type", 1, 5))).alias("first_type"),
        )
        .orderBy("p_brand")
    )


@register(
    "grouping_sets_orders",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    ORDER BY priority, status
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY priority, status
        """
    )


@register(
    "q17_correlated_subquery",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated scalar subquery — Catalyst decorrelates
    it into an aggregate + join; expressed through the SQL surface to
    exercise the subquery planner."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q17_lineitem")
    return spark.sql(
        """
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2) AS DOUBLE) AS avg_yearly
        FROM __q17_lineitem l1
        WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
                            FROM __q17_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        """
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n2.n_name <> n1.n_name
    GROUP BY n1.n_name, year(l_shipdate)
    ORDER BY cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style cross-nation volume: fact-fact shuffle join + broadcast
    dims + date-part grouping."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    dec = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.c_nkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == n2.s_nkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.round(F.sum(dec), 2).cast("double").alias("revenue"))
        .orderBy("cust_nation", "l_year")
    )


@register(
    "null_ordering_last_purchase",
    oracle="""
    SELECT c_custkey, last_purchase
    FROM (
      SELECT c_custkey, MAX(o_orderdate) AS last_purchase
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey)
    ORDER BY last_purchase DESC NULLS LAST, c_custkey
    LIMIT 50
    """,
)
def null_ordering_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null ordering — Spark and DuckDB have opposite defaults
    (nulls first vs nulls last on DESC), so the direction is pinned."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.max("o_orderdate").alias("last_purchase"))
        .orderBy(F.col("last_purchase").desc_nulls_last(), "c_custkey")
        .limit(50)
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style: returned-item revenue per customer, top-20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    dec = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(dec), 2).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, big.o_orderkey AS o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(total_qty, 2) AS total_qty
    FROM (
      SELECT l_orderkey AS o_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 210) big
    JOIN orders ON big.o_orderkey = orders.o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style: HAVING aggregate feeding a join (aggregate pushdown side)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 210)
    )
    return (
        big.join(orders, "o_orderkey")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "events_variant_shredding",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def events_variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads via Spark 4's VARIANT type: parse_json once,
    then binary-encoded field access (no per-access JSON re-parse — the
    scale path for dynamic-schema columns, cf. the reference's schema-less
    dbObject payloads)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select("user_id", F.parse_json("props").alias("v")).select(
        "user_id", F.try_variant_get("v", "$.k", "bigint").alias("k")
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("user_id")
    )


@register(
    "profile_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col, COUNT(*) AS n,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS nulls,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           ROUND(MIN(l_quantity), 4) AS min_val, ROUND(MAX(l_quantity), 4) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*),
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           COUNT(DISTINCT l_discount),
           ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           COUNT(DISTINCT l_extendedprice),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4)
    FROM lineitem
    ORDER BY col
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling: per-column null/distinct/min/max in ONE scan —
    aggregates for all profiled columns computed together, then unpivoted
    (the multi-scan UNION the oracle uses would read the table N times)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    parts = [
        f"named_struct('col', '{c}', 'n', {c}__n, 'nulls', {c}__nulls, "
        f"'n_distinct', {c}__nd, 'min_val', {c}__min, 'max_val', {c}__max)"
        for c in cols
    ]
    return (
        wide.select(F.explode(F.expr(f"array({', '.join(parts)})")).alias("p"))
        .select("p.col", "p.n", "p.nulls", "p.n_distinct", "p.min_val", "p.max_val")
        .orderBy("col")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style two-level aggregation over an outer join with a join-side
    predicate (the classic filtered-left-join trap: the filter belongs in
    the ON clause, not WHERE)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35 AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style OR-of-ANDs across both join sides — Catalyst extracts the
    common per-side conjuncts and pushes them below the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 25)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 35)
           & F.col("l_quantity").between(20, 50))
    )
    dec = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    return j.filter(cond).agg(
        F.round(F.sum(dec), 2).cast("double").alias("revenue")
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0)
    SELECT substr(c_name, 17, 2) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY 1 ORDER BY cntrycode
    """,
    require_rows=True,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style: scalar-subquery threshold + anti join + substring group.

    Two predicates are loosened vs textbook Q22 so the gate is
    non-vacuous on the driver's synthetic data (round-8 verdict finding
    #2): the anti side is orders with o_totalprice > 400000 ("no
    high-value order" — every customer has SOME order at every sf, so
    the original was empty at both gate scales), and the country code is
    the LAST two digits of the 9-digit zero-padded c_name key
    (substr 17,2) — the original substr(10,2) is constant '00' for the
    first 10M customers, collapsing the group-by to one group. This
    shape yields 7/88/944 qualifying customers across tens of groups at
    sf0.001/0.01/0.1."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.groupBy(F.substring("c_name", 17, 2).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-style top supplier: aggregate-then-argmax. The scalar max joins
    back as a broadcast, so the revenue aggregate is computed once and the
    argmax adds no extra shuffle of the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC)
                      * (F.lit(1) - F.col("l_discount")).cast(_DEC4)),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.join(F.broadcast(max_rev),
                     F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style sole-late-supplier (adapted: no commit/receipt dates in the
    schema, so "late" = shipped >60 days after order date). Spark-first
    rewrite: instead of the classic EXISTS + NOT EXISTS double self-join of
    lineitem (three shuffles of the fact table), one groupBy(l_orderkey)
    computes distinct-supplier and distinct-late-supplier counts — a single
    shuffle, with map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    j = li.join(
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        F.sum(F.when(late, 1).otherwise(0)).alias("late_rows"),
    )
    sole_late = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    supp_nat = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(supp_nat),
                       F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_rows").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "events_sliding_window",
    oracle="""
    SELECT window_start, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM (
      SELECT make_timestamp(CAST((floor(epoch(ts) / 1200) * 1200 - k * 1200) * 1000000 AS BIGINT)) AS window_start,
             value
      FROM events, UNNEST([0, 1, 2]) AS t(k)) w
    GROUP BY window_start ORDER BY window_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming sliding-window aggregation: 1-hour
    windows every 20 minutes (each event lands in exactly 3 overlapping
    windows — the oracle materializes them via UNNEST of the 3 offsets)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "20 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


@register(
    "full_outer_nation_reconciliation",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def full_outer_nation_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of two aggregates (the classic 'compare
    two systems' report): per-nation customer vs supplier counts, nulls
    zero-filled on both sides."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, c.nk_c == s.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "skew_salted_event_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def skew_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (the hot-key answer at 100 TB): salt →
    partial agg → merge. The oracle is the plain GROUP BY — proving the
    salted rewrite computes the identical result."""
    ev = _t(spark, sf_dir, "events")
    out = skew_mod.salted_agg(
        ev,
        "user_id",
        {"n_events": ("count", "*"), "sum_value": ("sum", "value")},
    )
    return out.select(
        "user_id",
        F.col("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id")


@register(
    "events_date_dimensions",
    oracle="""
    SELECT CAST(EXTRACT(year FROM ts) AS INTEGER) AS y,
           CAST(EXTRACT(quarter FROM ts) AS INTEGER) AS q,
           CAST(EXTRACT(dow FROM ts) AS INTEGER) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
    """,
)
def events_date_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension extraction breadth: year/quarter/day-of-week/
    hour rollup. Day-of-week conventions differ between engines (Spark
    dayofweek is 1=Sunday, DuckDB dow is 0=Sunday) — pinned by shifting
    Spark's to the 0-based convention."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.year("ts").alias("y"),
            F.quarter("ts").alias("q"),
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("y", "q", "dow", "hr")
    )


@register(
    "orders_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_ts,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                AS INTEGER) AS days_to_eoy,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3mo
    FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey
    """,
)
def orders_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/interval arithmetic breadth: day/month interval addition
    (with end-of-month clamping), last_day, ISO week truncation (Monday
    start in both engines), and day diffs. All pure column expressions —
    codegen'd, no shuffle beyond the final sort."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return orders.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        F.date_trunc("week", "o_orderdate").alias("week_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.to_date("o_orderdate"))
        .cast("int")
        .alias("days_to_eoy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus3mo"),
    ).orderBy("o_orderkey")


@register(
    "array_agg_user_event_types",
    oracle="""
    SELECT user_id,
           list_sort(list_distinct(list(event_type))) AS types_seen,
           CAST(len(list_distinct(list(event_type))) AS INTEGER) AS n_types,
           list_sort(list_intersect(list_distinct(list(event_type)),
                                    ['click', 'purchase'])) AS funnel_types
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def array_agg_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregate breadth: collect_set → sorted array, cardinality,
    array_intersect against a literal set. Arrays are sorted before
    emission so the value hash is order-stable; collect_set is a map-side
    combinable aggregate (no row explosion survives the shuffle)."""
    ev = _t(spark, sf_dir, "events")
    types = F.sort_array(F.collect_set("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(
            types.alias("types_seen"),
            F.size(F.collect_set("event_type")).cast("int").alias("n_types"),
            F.sort_array(
                F.array_intersect(
                    F.collect_set("event_type"),
                    F.array(F.lit("click"), F.lit("purchase")),
                )
            ).alias("funnel_types"),
        )
        .orderBy("user_id")
    )


@register(
    "agg_regression_lineitem",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_regression_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate breadth: Pearson correlation, sample
    covariance, least-squares slope/intercept per group — all single-pass
    mergeable aggregates (Spark uses numerically-stable co-moment updates,
    so partial aggregation still applies at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
            F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
                "price_qty_covar"
            ),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
                "intercept"
            ),
        )
        .orderBy("l_returnflag")
    )


@register("sql_cte_top_customers", oracle=_SQL_CTE_TOP_CUSTOMERS)
def sql_cte_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ad-hoc SQL surface itself (SURVEY §2.8 'SQL / expression
    language'): tables registered as temp views, then one multi-CTE ANSI
    query through spark.sql — the exact string DuckDB runs as the oracle.
    Catalyst plans the window top-k before the customer join, so the join
    input is 25 rows (broadcast), not the full customer table."""
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_CTE_TOP_CUSTOMERS)


@register(
    "ntile_customer_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY o_custkey
    ), tiled AS (
        SELECT spend,
               NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
        FROM spend
    )
    SELECT decile, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(spend), 2) AS DOUBLE) AS decile_spend,
           CAST(ROUND(MIN(spend), 2) AS DOUBLE) AS min_spend,
           CAST(ROUND(MAX(spend), 2) AS DOUBLE) AS max_spend
    FROM tiled GROUP BY decile ORDER BY decile
    """,
)
def ntile_customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing with NTILE over exact decimal spend (unique
    tiebreak on custkey keeps the tile assignment deterministic). The
    global-ORDER window is the demonstration; at 100 TB the same deciles
    come from approx_percentile boundaries + a width_bucket-style map-only
    assignment — no global sort."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("spend"), 2).cast("double").alias("decile_spend"),
            F.round(F.min("spend"), 2).cast("double").alias("min_spend"),
            F.round(F.max("spend"), 2).cast("double").alias("max_spend"),
        )
        .orderBy("decile")
    )


@register(
    "deterministic_sample_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_total
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~12.5% sample by content hash (first hex digit of
    md5(key)) — the sampling pattern a training pipeline needs: stable
    across runs, engines, partitionings, and cluster sizes, unlike
    ``df.sample`` whose output depends on partition layout. Map-only
    filter + partial agg; at 100 TB nothing shuffles but 5 groups."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
                "0", "1"
            )
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Product-analytics shapes: funnel, cohort retention, per-user array algebra,
# LATERAL top-1 (SURVEY §2.8 breadth)
# ---------------------------------------------------------------------------


@register(
    "events_funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, v.first_view, MIN(e.ts) AS first_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.first_view
        GROUP BY e.user_id, v.first_view
    ), p AS (
        SELECT e.user_id, c.first_view, c.first_click, MIN(e.ts) AS first_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        GROUP BY e.user_id, c.first_view, c.first_click
    )
    SELECT user_id, first_view, first_click, first_purchase
    FROM p ORDER BY user_id
    """,
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users who did view -> click -> purchase in
    strict timestamp order, with the earliest qualifying time of each
    stage. Three filtered min-aggregates chained by user_id equi-joins —
    every shuffle is on the same key, so at 100 TB the stages co-partition
    (one exchange, reused) and each MIN is map-side partial; no window, no
    sort, no fact-sized intermediate."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id", "first_view", "first_click")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return p.select(
        "user_id", "first_view", "first_click", "first_purchase"
    ).orderBy("user_id")


@register(
    "events_cohort_retention",
    oracle="""
    WITH fm AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day
        FROM events
    )
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, a.act_day) AS BIGINT)
             AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN fm f ON a.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY cohort_day, day_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day,
    counted on each later day they return. The (user, day) activity set is
    deduped FIRST (shuffle carries one row per user-day, not per event),
    then joined to the per-user cohort on user_id — co-partitioned with
    the dedup — and the final distinct-count groups by the tiny (cohort,
    offset) key. day_offset is an exact integer date difference."""
    ev = _t(spark, sf_dir, "events")
    fm = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    act = ev.select("user_id", F.col("ts").cast("date").alias("act_day")).distinct()
    return (
        act.join(fm, "user_id")
        .withColumn(
            "day_offset", F.datediff("act_day", "cohort_day").cast("bigint")
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "array_set_ops_user_event_types",
    oracle="""
    WITH s AS (
        SELECT user_id,
               list_sort(list_distinct(COALESCE(
                   list(event_type) FILTER (WHERE event_id % 2 = 0), [])))
                 AS even_types,
               list_sort(list_distinct(COALESCE(
                   list(event_type) FILTER (WHERE event_id % 2 = 1), [])))
                 AS odd_types
        FROM events GROUP BY user_id
    )
    SELECT user_id, even_types, odd_types,
           list_sort(list_intersect(even_types, odd_types)) AS common_types,
           list_sort(list_filter(even_types,
                                 x -> NOT list_contains(odd_types, x)))
             AS even_only_types
    FROM s ORDER BY user_id
    """,
)
def array_set_ops_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra per key: the distinct event-type vocabularies of
    two deterministic halves of each user's stream (even/odd event_id) and
    their intersection / difference, all sorted so the array values are
    order-stable. One groupBy on the natural key; the set ops are JVM
    array expressions on already-aggregated rows — nothing re-shuffles."""
    ev = _t(spark, sf_dir, "events")
    even = F.array_sort(
        F.array_distinct(
            F.collect_list(
                F.when(F.col("event_id") % 2 == 0, F.col("event_type"))
            )
        )
    )
    odd = F.array_sort(
        F.array_distinct(
            F.collect_list(
                F.when(F.col("event_id") % 2 == 1, F.col("event_type"))
            )
        )
    )
    return (
        ev.groupBy("user_id")
        .agg(even.alias("even_types"), odd.alias("odd_types"))
        .select(
            "user_id",
            "even_types",
            "odd_types",
            F.array_sort(
                F.array_intersect("even_types", "odd_types")
            ).alias("common_types"),
            F.array_sort(F.array_except("even_types", "odd_types")).alias(
                "even_only_types"
            ),
        )
        .orderBy("user_id")
    )


@register("lateral_top_order_per_customer", oracle=_LATERAL_TOP_ORDER)
def lateral_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-surface breadth): per customer,
    the single most expensive order, written as a lateral ORDER BY/LIMIT 1
    — the same ANSI text runs on both engines. Catalyst rewrites the
    lateral into a ranked join rather than executing per-row subqueries,
    so the plan is one shuffle + window, not N scans; semantically
    identical to the `window_topk_orders_per_customer` DataFrame variant."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOP_ORDER)


@register(
    "bucket_join_spend_quartiles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    ), q AS (
        SELECT quantile_cont(spend, 0.25) AS q1,
               quantile_cont(spend, 0.50) AS q2,
               quantile_cont(spend, 0.75) AS q3
        FROM spend
    )
    SELECT CASE WHEN s.spend <= q.q1 THEN 1
                WHEN s.spend <= q.q2 THEN 2
                WHEN s.spend <= q.q3 THEN 3
                ELSE 4 END AS quartile,
           COUNT(*) AS n_customers,
           ROUND(SUM(s.spend), 2) AS total_spend
    FROM spend s CROSS JOIN q
    GROUP BY 1 ORDER BY quartile
    """,
)
def bucket_join_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing the way it scales: compute the three quartile
    boundaries once (a tiny all-reduce), broadcast them against the
    per-customer spend, and assign buckets with a map-only CASE — no
    global sort, unlike NTILE (`ntile_customer_spend_deciles`). Spend is
    an exact decimal sum cast to double (< 2^53 cents, so the cast is
    exact) and both engines share the linear-interpolation percentile
    rule, so the boundaries are bit-identical."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("spend")
    )
    q = spend.agg(
        F.expr("percentile(spend, 0.25)").alias("q1"),
        F.expr("percentile(spend, 0.50)").alias("q2"),
        F.expr("percentile(spend, 0.75)").alias("q3"),
    )
    return (
        spend.crossJoin(F.broadcast(q))
        .withColumn(
            "quartile",
            F.when(F.col("spend") <= F.col("q1"), 1)
            .when(F.col("spend") <= F.col("q2"), 2)
            .when(F.col("spend") <= F.col("q3"), 3)
            .otherwise(4)
            .cast("int"),
        )
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("spend"), 2).alias("total_spend"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# String aggregation + window-over-aggregate composition (final breadth)
# ---------------------------------------------------------------------------


@register(
    "listagg_nations_per_region",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY region
    """,
)
def listagg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/string_agg parity: comma-joined nation names per region,
    made order-deterministic by sorting inside the aggregate
    (array_sort(collect_list) -> array_join — Spark's collect order is
    partition-dependent, so the sort is mandatory, not cosmetic)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
        .orderBy("region")
    )


@register(
    "orders_mom_revenue_growth",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month) * 100, 4) AS pct_change
    FROM m ORDER BY month
    """,
)
def orders_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: window-over-aggregate composition
    — the fact collapses to one row per month first (map-side partial
    agg), then LAG runs on the O(months) series, so the 'global' window
    orders ~80 rows, not 100 TB. The percent change divides exact
    decimal-derived doubles, rounded on both engines."""
    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return (
        m.withColumn("prev_revenue", prev)
        .withColumn(
            "pct_change",
            F.round((F.col("revenue") - prev) / prev * 100, 4),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# TPC-H shapes 2/9/11/16/20 — adapted to this schema (no partsupp table:
# the part-supplier relationship is derived from lineitem, which preserves
# each query's characteristic operator shape: correlated argmin, profit
# expression over a snowflake, scalar-subquery threshold, NOT IN with
# grouped distinct counts, nested correlated quantity threshold).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eursupp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), cost AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   / SUM(l_quantity), 4) AS supply_cost
      FROM lineitem JOIN eursupp ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ), mc AS (
      SELECT partkey, MIN(supply_cost) AS min_cost FROM cost GROUP BY 1
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
    FROM cost
    JOIN mc ON cost.partkey = mc.partkey AND cost.supply_cost = mc.min_cost
    JOIN part ON p_partkey = cost.partkey
    JOIN eursupp ON s_suppkey = cost.suppkey
    WHERE p_size <= 15 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-style min-cost supplier (partsupp derived from lineitem: supply
    cost = per-(part,supplier) average unit price). The correlated
    MIN-subquery becomes a window MIN over partkey on the already-reduced
    (part,supplier) aggregate — lineitem shuffles once on the pair key;
    the window input is |part|x|supp-per-part|, orders of magnitude
    smaller than the fact. Part/supplier/nation/region filters broadcast
    into the scan before the aggregate so only qualifying rows shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part_f = part.filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    supp_eur = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(part_f), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_eur), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.round(
                F.round(F.sum(F.col("l_extendedprice").cast(_DEC)), 2).cast("double")
                / F.sum("l_quantity"),
                4,
            ).alias("supply_cost")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        cost.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))
               - CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(0.1 AS DECIMAL(3,1)) AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style product-type profit (supply cost proxied as 10% of
    p_retailprice since there is no partsupp). Snowflake with one fact-fact
    shuffle (lineitem-orders); part and supplier+nation broadcast. All
    money arithmetic stays in DECIMAL so the profit sum is exact and
    partition-order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    part_red = part.filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nat = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4) - F.col("l_quantity").cast(_DEC) * F.col("p_retailprice").cast(
        _DEC
    ) * F.lit(0.1).cast("decimal(3,1)")
    return (
        li.join(F.broadcast(part_red), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_inventory",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_nationkey % 2 = 0
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(value_dec) AS DECIMAL(28,2)) AS total_dec,
             CAST(COUNT(*) AS DECIMAL(6,0)) AS n_parts
      FROM pv
    )
    SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE value_dec * CAST(2 AS DECIMAL(1,0)) * n_parts
          > CAST(3 AS DECIMAL(1,0)) * total_dec
    ORDER BY part_value DESC, partkey
    """,
    require_rows=True,
)
def q11_important_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-style important inventory: per-part value for a nation
    group's suppliers, kept only when above a multiple of the MEAN
    per-part value (the scalar subquery). The global total re-aggregates
    the per-part result (tiny) and broadcasts back — the fact table
    shuffles once. The threshold comparison runs in DECIMAL
    multiplications only (v·2·n > 3·total ⇔ v > 1.5·mean) so the cut is
    exact on both engines — no float boundary, no decimal DIVISION
    (whose engine-specific result scales drift).

    Scale-free by construction (round-9 vacuity fix): the original
    'value > 0.001 · total' cut is a fixed FRACTION of the table — with
    20k parts no part holds 0.1% of total value, so the gate was empty
    at sf0.1 AND at the sf0.001 mirror (single-nation suppliers don't
    exist there: 10 suppliers over 25 nations). A mean-relative
    threshold over an even-nationkey supplier group returns 11/124/1087
    parts at sf0.001/0.01/0.1."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    supp_even = supp.join(
        F.broadcast(nation.filter(F.col("n_nationkey") % 2 == 0)),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    pv = (
        li.join(F.broadcast(supp_even), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("value_dec"))
    )
    total = pv.agg(
        F.sum("value_dec").cast("decimal(28,2)").alias("total_dec"),
        F.count(F.lit(1)).cast("decimal(6,0)").alias("n_parts"),
    )
    return (
        pv.join(
            F.broadcast(total),
            F.col("value_dec") * F.lit(2).cast("decimal(1,0)") * F.col("n_parts")
            > F.lit(3).cast("decimal(1,0)") * F.col("total_dec"),
        )
        .select("partkey", F.col("value_dec").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "q16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style supplier counts per part descriptor (the 'complaints'
    exclusion becomes negative-balance suppliers). NOT IN compiles to a
    broadcast left-anti join (the excluded set is tiny); the part filter
    broadcasts into the lineitem scan; one shuffle for the distinct
    count."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    part_f = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(part_f), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_shippers",
    oracle="""
    WITH per AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ), tot AS (
      SELECT pk, SUM(qty) AS total_qty FROM per GROUP BY 1
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM per
    JOIN tot ON per.pk = tot.pk
    JOIN part ON p_partkey = per.pk AND p_name LIKE 'b%'
    JOIN supplier ON s_suppkey = per.sk
    JOIN nation ON n_nationkey = s_nationkey AND n_nationkey < 13
    WHERE qty > 0.3 * total_qty
    ORDER BY s_suppkey
    """,
    require_rows=True,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-style excess shippers: suppliers in a nation group that
    shipped >30% of a qualifying part's 1996 volume (the classic nested
    correlated '0.5 * sum(qty)' threshold, with availqty replaced by the
    supplier's own shipped share). The correlated subquery becomes a
    window SUM over partkey on the (part,supplier) aggregate; the fact
    shuffles once on the pair key, the window reshuffles only the
    reduced aggregate. Part/supplier filters broadcast.

    The nation cut is the keyspace half ``n_nationkey < 13`` rather than
    one named nation (round-9 vacuity fix: at sf0.001 there are 10
    suppliers over 25 nations, so any single-nation filter can be empty
    — the original NATION_2 was, and the gate passed 0==0). Returns
    3/51/475 suppliers at sf0.001/0.01/0.1."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part_b = part.filter(F.col("p_name").like("b%")).select("p_partkey")
    supp_n2 = supp.join(
        F.broadcast(nation.filter(F.col("n_nationkey") < 13)),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "s_name")
    per = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part_b), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        per.withColumn("total_qty", F.sum("qty").over(w))
        .filter(F.col("qty") > F.lit(0.3) * F.col("total_qty"))
        .join(F.broadcast(supp_n2), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "events_state_islands",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grp AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )
    SELECT user_id, event_type, island,
           MIN(ts) AS island_start, MAX(ts) AS island_end,
           COUNT(*) AS run_length
    FROM grp
    GROUP BY user_id, event_type, island
    HAVING COUNT(*) >= 3
    ORDER BY user_id, island_start
    """,
)
def events_state_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands / run-length encoding of per-user state: each
    change of event_type starts a new island; islands are the SCD2-style
    [start, end] validity intervals. Both windows and the final groupBy
    partition on user_id, so after the first shuffle every later stage is
    shuffle-free (same-key partitioning reused) — the plan holds at
    billions of users because state never leaves its partition."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    grp = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("chg", chg)
        .withColumn(
            "island",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        grp.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("island_start"),
            F.max("ts").alias("island_end"),
            F.count(F.lit(1)).alias("run_length"),
        )
        .filter(F.col("run_length") >= 3)
        .orderBy("user_id", "island_start")
    )


@register(
    "events_ewma_per_user",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, ts AS last_ts,
           ROUND(
             list_reduce([vs[i + 1] * power(0.5, len(vs) - 1 - i)
                          FOR i IN range(0, len(vs))], (a, b) -> a + b)
             / list_reduce([power(0.5, len(vs) - 1 - i)
                            FOR i IN range(0, len(vs))], (a, b) -> a + b),
             6) AS ewma
    FROM w WHERE rn = 1 ORDER BY user_id
    """,
)
def events_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (finite 10-row window form,
    alpha = 0.5) of each user's value series, reported at their latest
    event. collect_list over the ordered frame keeps arrival order; the
    weighted fold is a codegen higher-order function. alpha = 0.5 makes
    every weight a power of two — exact in binary floating point — so the
    result is bit-identical across engines and partitionings. One
    user_id shuffle serves both windows."""
    ev = _t(spark, sf_dir, "events")
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ewma = F.expr(
        """
        aggregate(transform(sequence(0, size(vs) - 1),
                    i -> element_at(vs, i + 1)
                         * power(0.5D, CAST(size(vs) - 1 - i AS DOUBLE))),
                  0.0D, (a, x) -> a + x)
        / aggregate(transform(sequence(0, size(vs) - 1),
                      i -> power(0.5D, CAST(size(vs) - 1 - i AS DOUBLE))),
                    0.0D, (a, x) -> a + x)
        """
    )
    return (
        ev.select(
            "user_id",
            "ts",
            F.collect_list("value").over(wf).alias("vs"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id", F.col("ts").alias("last_ts"), F.round(ewma, 6).alias("ewma")
        )
        .orderBy("user_id")
    )


@register(
    "stratified_sample_orders",
    oracle="""
    WITH h AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 100
               AS b
      FROM orders
    ), kept AS (
      SELECT * FROM h
      WHERE b < CASE o_orderpriority
                  WHEN '1-URGENT' THEN 50
                  WHEN '2-HIGH' THEN 25
                  ELSE 10 END
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_sampled,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sampled_revenue
    FROM kept
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-class keep rates (50% urgent
    / 25% high / 10% rest) by md5(key) bucket — the class-rebalancing
    primitive of training-data pipelines. Unlike sampleBy(), the hash
    gate is reproducible across runs and engines, survives reprocessing
    without leakage, and is a pure narrow filter (pushdown-friendly, no
    RNG state per partition)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    rate = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 50)
        .when(F.col("o_orderpriority") == "2-HIGH", 25)
        .otherwise(10)
    )
    return (
        orders.filter(bucket < rate)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("sampled_revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "set_ops_multiset_event_types",
    oracle="""
    WITH l AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
         r AS (SELECT event_type FROM events WHERE user_id % 2 = 1),
    i AS (SELECT event_type FROM l INTERSECT ALL SELECT event_type FROM r),
    e AS (SELECT event_type FROM l EXCEPT ALL SELECT event_type FROM r)
    SELECT 'common' AS which, event_type, COUNT(*) AS n FROM i GROUP BY 2
    UNION ALL
    SELECT 'left_surplus' AS which, event_type, COUNT(*) AS n FROM e GROUP BY 2
    ORDER BY which, event_type
    """,
)
def set_ops_multiset_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL): per-type
    overlap between the even- and odd-user event streams with
    multiplicities preserved — intersectAll keeps min(countL, countR)
    copies, exceptAll keeps the left surplus. Both compile to a single
    aggregate-style shuffle on the compared columns (no join explosion)."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    right = ev.filter(F.col("user_id") % 2 == 1).select("event_type")
    common = (
        left.intersectAll(right)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("common").alias("which"), "event_type", "n")
    )
    surplus = (
        left.exceptAll(right)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("left_surplus").alias("which"), "event_type", "n")
    )
    return common.unionAll(surplus).orderBy("which", "event_type")


@register(
    "argmax_customer_per_nation",
    oracle="""
    SELECT c_nationkey, c_name AS top_customer, c_acctbal AS top_acctbal
    FROM (
      SELECT c_nationkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) t
    WHERE rn = 1
    ORDER BY c_nationkey
    """,
)
def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation argmax via the max_by aggregate with a composite
    (acctbal, -custkey) ordering struct — deterministic under ties. As an
    aggregate this is a single hash-shuffle with map-side partial
    combine; the equivalent row_number window (the oracle formulation)
    must SORT every partition, which at 100 TB is strictly more work for
    a top-1-per-group answer."""
    cust = _t(spark, sf_dir, "customer")
    key = F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("tb"))
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.max_by(F.col("c_name"), key).alias("top_customer"),
            F.max(key).getField("c_acctbal").alias("top_acctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "lineitem_unpivot_measures",
    oracle="""
    WITH u AS (
      UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
               FROM lineitem)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE v
    )
    SELECT measure,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(v AS DECIMAL(18,4))), 4) AS DOUBLE) AS total,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v
    FROM u
    GROUP BY measure
    ORDER BY measure
    """,
)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping with the native unpivot/melt operator, then
    per-measure profiling. Unpivot is a zero-shuffle row-local transform
    (each input row yields |measures| output rows); the only shuffle is
    the 4-group aggregate. The DECIMAL(18,4) sum keeps the mixed-scale
    measures (quantities vs prices vs rates) exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("v").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
        .orderBy("measure")
    )


@register(
    "ansi_safe_arithmetic",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(AVG(l_extendedprice / nullif(l_quantity - 1, 0)), 4)
             AS avg_unit_price_excl_first,
           SUM(CASE WHEN l_quantity - 1 = 0 THEN 1 ELSE 0 END) AS div_by_zero_rows,
           SUM(CASE WHEN TRY_CAST(l_returnflag AS INT) IS NULL THEN 1 ELSE 0 END)
             AS uncastable_flags
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def ansi_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI semantics: try_divide yields NULL
    (not an exception, not Inf) on zero denominators and try_cast NULL on
    malformed input — the production posture for dirty data at scale,
    where one poisoned row must not kill a 1000-executor stage. NULLs
    then flow through AVG/COUNT with standard skip semantics, and the
    poisoned-row counts are surfaced alongside."""
    li = _t(spark, sf_dir, "lineitem")
    denom = F.col("l_quantity") - 1
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg(F.try_divide(F.col("l_extendedprice"), denom)), 4
            ).alias("avg_unit_price_excl_first"),
            F.sum(F.when(denom == 0, 1).otherwise(0)).alias("div_by_zero_rows"),
            F.sum(
                F.when(F.expr("try_cast(l_returnflag AS INT)").isNull(), 1).otherwise(0)
            ).alias("uncastable_flags"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "null_safe_dim_lookup",
    oracle="""
    WITH dim(prio_key, label, rate) AS (
      VALUES ('1-URGENT', 'expedite', 0.02),
             ('2-HIGH',   'priority', 0.01),
             (NULL,       'standard', 0.0)
    ), keyed AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN o_orderpriority END AS prio_key,
             o_totalprice
      FROM orders
    )
    SELECT label,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM keyed JOIN dim ON keyed.prio_key IS NOT DISTINCT FROM dim.prio_key
    GROUP BY label
    ORDER BY label
    """,
)
def null_safe_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe dimension lookup: un-mapped priorities carry a NULL key
    that must still match the dimension's NULL 'default' row — the <=>
    (eqNullSafe) join, vs a plain equi-join silently dropping them. The
    three-row dimension broadcasts; null-safe equality keeps the join a
    hash join (it is still an equality predicate to Catalyst)."""
    orders = _t(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("1-URGENT", "expedite", 0.02), ("2-HIGH", "priority", 0.01),
         (None, "standard", 0.0)],
        "prio_key string, label string, rate double",
    )
    keyed = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            F.col("o_orderpriority"),
        ).alias("prio_key"),
        "o_totalprice",
    )
    return (
        keyed.join(F.broadcast(dim),
                   keyed.prio_key.eqNullSafe(dim.prio_key))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("label")
    )


@register(
    "rollup_with_grouping_ids",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def rollup_with_grouping_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicator columns: the indicators
    disambiguate 'real NULL value' from 'subtotal row' — required for any
    consumer of hierarchical aggregates. One shuffle: Spark expands the
    rollup map-side and partially aggregates every grouping level before
    the exchange."""
    orders = _t(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
    ).cast("int")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
        .orderBy("gid", "status", "priority")
    )


# ---------------------------------------------------------------------------
# Round 3: relational breadth + training-data pipeline additions
# ---------------------------------------------------------------------------


@register(
    "recursive_cte_supplier_chain",
    oracle="""
    WITH RECURSIVE chain(suppkey, root, depth) AS (
        SELECT s_suppkey, s_suppkey, 0 FROM supplier WHERE s_suppkey < 4
        UNION ALL
        SELECT s.s_suppkey, c.root, c.depth + 1
        FROM supplier s JOIN chain c ON CAST(FLOOR(s.s_suppkey / 2) AS BIGINT) = c.suppkey
        WHERE s.s_suppkey >= 4
    )
    SELECT root, depth, COUNT(*) AS n_nodes, MIN(suppkey) AS min_key,
           MAX(suppkey) AS max_key
    FROM chain GROUP BY root, depth ORDER BY root, depth
    """,
)
def recursive_cte_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): transitive closure over an
    implicit binary-tree hierarchy (parent = suppkey/2). The reference has
    no hierarchy operator at all (SURVEY §2.8); this exercises Spark's
    iterative plan expansion — each recursion step is a self-join the
    optimizer plans independently, so depth scales without a driver loop."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_rc")
    return spark.sql(
        """
        WITH RECURSIVE chain(suppkey, root, depth) AS (
            SELECT s_suppkey, s_suppkey, 0 FROM supplier_rc WHERE s_suppkey < 4
            UNION ALL
            SELECT s.s_suppkey, c.root, c.depth + 1
            FROM supplier_rc s JOIN chain c ON CAST(FLOOR(s.s_suppkey / 2) AS BIGINT) = c.suppkey
            WHERE s.s_suppkey >= 4
        )
        SELECT root, depth, COUNT(*) AS n_nodes, MIN(suppkey) AS min_key,
               MAX(suppkey) AS max_key
        FROM chain GROUP BY root, depth ORDER BY root, depth
        """
    )


@register(
    "bitwise_agg_line_flags",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               BIT_OR(CASE WHEN l_linenumber <= 62 THEN CAST(POW(2, l_linenumber) AS BIGINT) ELSE 0 END) AS line_mask,
               BIT_AND(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS all_n,
               BIT_XOR(l_linenumber) AS parity
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT line_mask, all_n, COUNT(*) AS n_orders,
           SUM(parity) AS parity_sum
    FROM per_order GROUP BY line_mask, all_n ORDER BY line_mask, all_n
    """,
)
def bitwise_agg_line_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_or/bit_and/bit_xor): per-order line-number
    bitmask + all-returnflag-N indicator, then a distribution over masks.
    Bitmask aggregation is the classic compact-set encoding for feature
    flags at scale — associative, so map-side partial agg applies and the
    shuffle carries one long per order."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.bit_or(
            F.when(F.col("l_linenumber") <= 62, F.pow(F.lit(2), F.col("l_linenumber")).cast("bigint")).otherwise(F.lit(0))
        ).alias("line_mask"),
        F.bit_and(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("all_n"),
        F.bit_xor("l_linenumber").alias("parity"),
    )
    return (
        per_order.groupBy("line_mask", "all_n")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("parity").alias("parity_sum"))
        .orderBy("line_mask", "all_n")
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               AVG(value) AS mu,
               STDDEV_SAMP(value) AS sigma,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           MAX(s.n) AS n_events,
           SUM(CASE WHEN ABS((e.value - s.mu) / s.sigma) > 2.0 THEN 1 ELSE 0 END) AS n_outliers,
           ROUND(MAX(ABS((e.value - s.mu) / s.sigma)), 4) AS max_abs_z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly counts per event type: two-pass (stats then score)
    expressed as an aggregate + broadcast-join back — the per-group stats
    table is tiny, so the second pass is shuffle-free. Rounding the max |z|
    keeps the hash stable across summation orders."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    z = F.abs((F.col("e.value") - F.col("s.mu")) / F.col("s.sigma"))
    return (
        ev.alias("e")
        .join(F.broadcast(stats.alias("s")), F.col("e.event_type") == F.col("s.event_type"))
        .groupBy(F.col("e.event_type").alias("event_type"))
        .agg(
            F.max("s.n").alias("n_events"),
            F.sum(F.when(z > 2.0, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@register(
    "events_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events),
    pairs AS (
      SELECT a.user_id,
             least(epoch_us(a.e), epoch_us(b.e)) -
             greatest(epoch_us(a.s), epoch_us(b.s)) AS overlap_us
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id
       AND a.s <= b.e AND b.s <= a.e
       AND a.event_id < b.event_id)
    SELECT user_id, COUNT(*) AS n_overlaps,
           MAX(overlap_us) AS max_overlap_us
    FROM pairs GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: each event becomes a 30-minute activity
    interval; per user, count overlapping pairs and the longest overlap
    (exact microseconds — epoch integers, no float). The join equi-blocks
    on user_id with the overlap predicate as a residual filter."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    joined = asof_mod.interval_overlap_join(
        iv, iv, key="user_id", left_start="s", left_end="e",
        right_start="s", right_end="e",
    ).filter(F.col("l.event_id") < F.col("r.event_id"))
    overlap_us = F.least(
        F.unix_micros("l.e"), F.unix_micros("r.e")
    ) - F.greatest(F.unix_micros("l.s"), F.unix_micros("r.s"))
    return (
        joined.select(F.col("l.user_id").alias("user_id"), overlap_us.alias("o"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.max("o").alias("max_overlap_us"),
        )
        .orderBy("user_id")
    )


@register(
    "orders_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT COUNT(*) AS n FROM digits),
    obs AS (SELECT d, COUNT(*) AS observed FROM digits GROUP BY d)
    SELECT o.d AS first_digit, o.observed,
           ROUND(CAST((SELECT n FROM n) AS DOUBLE) *
                 log10(1 + CAST(1 AS DOUBLE) / o.d), 2) AS expected,
           ROUND(CAST(o.observed AS DOUBLE) /
                 CAST((SELECT n FROM n) AS DOUBLE), 6) AS observed_p
    FROM obs o
    ORDER BY first_digit
    """,
)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the forensic DQ
    check for fabricated monetary data. Digit extraction goes through an
    exact DECIMAL(18,2) string so float formatting can't flip a leading
    digit; expected counts use the Benford distribution log10(1 + 1/d)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    n = digits.agg(F.count(F.lit(1)).alias("n"))
    return (
        digits.groupBy("d")
        .agg(F.count(F.lit(1)).alias("observed"))
        .join(F.broadcast(n))
        .select(
            F.col("d").alias("first_digit"),
            "observed",
            F.round(
                F.col("n").cast("double")
                * F.log10(F.lit(1) + F.lit(1).cast("double") / F.col("d")),
                2,
            ).alias("expected"),
            F.round(
                F.col("observed").cast("double") / F.col("n").cast("double"), 6
            ).alias("observed_p"),
        )
        .orderBy("first_digit")
    )


@register(
    "orders_revenue_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    dd AS (
      SELECT day, rev,
             MAX(rev) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM daily)
    SELECT CAST(MIN(day) AS DATE) AS first_day,
           CAST(MAX(day) AS DATE) AS last_day,
           CAST(MAX(peak) AS DOUBLE) AS peak_revenue,
           CAST(MAX(peak - rev) AS DOUBLE) AS max_drawdown
    FROM dd
    """,
)
def orders_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series: running peak minus
    current value, maximized — entirely in exact DECIMAL so the windowed
    fold is bit-stable; one final DOUBLE cast for the report. A daily
    pre-aggregate bounds the window input to one row per day at any
    scale."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak", F.max("rev").over(w))
    return dd.agg(
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.max("peak").cast("double").alias("peak_revenue"),
        F.max(F.col("peak") - F.col("rev")).cast("double").alias("max_drawdown"),
    )


@register(
    "null_semantics_breadth",
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS val
      FROM orders)
    SELECT COUNT(*) AS n_rows,
           COUNT(val) AS n_nonnull,
           CAST(COUNT(*) - COUNT(val) AS BIGINT) AS n_null,
           CAST(ROUND(SUM(val), 2) AS DOUBLE) AS sum_skips_null,
           CAST(MIN(val) AS DOUBLE) AS min_skips_null,
           SUM(CASE WHEN val IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS nullsafe_eq_null,
           SUM(CASE WHEN (val > 100) IS NULL THEN 1 ELSE 0 END) AS cmp_null_is_unknown,
           SUM(CASE WHEN (val > 100 OR o_orderkey >= 0) THEN 1 ELSE 0 END) AS or_rescues_unknown,
           SUM(CASE WHEN COALESCE(val, 0) = 0 THEN 1 ELSE 0 END) AS coalesce_defaults,
           SUM(CASE WHEN NULLIF(o_orderkey % 7, 0) IS NULL THEN 1 ELSE 0 END) AS nullif_hits
    FROM v
    """,
)
def null_semantics_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued-logic pinning: COUNT(*) vs COUNT(col), aggregate
    NULL skipping, null-safe equality (<=>), UNKNOWN comparison results,
    OR rescuing UNKNOWN, COALESCE and NULLIF — one row of engine-semantics
    ground truth over a synthesized nullable column."""
    orders = _t(spark, sf_dir, "orders")
    val = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit(None)
    ).otherwise(F.col("o_totalprice").cast("decimal(18,2)"))
    v = orders.select("o_orderkey", val.alias("val"))
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("val").alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count("val")).cast("bigint").alias("n_null"),
        F.round(F.sum("val"), 2).cast("double").alias("sum_skips_null"),
        F.min("val").cast("double").alias("min_skips_null"),
        F.sum(
            F.when(F.col("val").eqNullSafe(F.lit(None)), 1).otherwise(0)
        ).alias("nullsafe_eq_null"),
        F.sum(
            F.when((F.col("val") > 100).isNull(), 1).otherwise(0)
        ).alias("cmp_null_is_unknown"),
        F.sum(
            F.when((F.col("val") > 100) | (F.col("o_orderkey") >= 0), 1).otherwise(0)
        ).alias("or_rescues_unknown"),
        F.sum(
            F.when(F.coalesce(F.col("val"), F.lit(0)) == 0, 1).otherwise(0)
        ).alias("coalesce_defaults"),
        F.sum(
            F.when(F.nullif(F.col("o_orderkey") % 7, F.lit(0)).isNull(), 1).otherwise(0)
        ).alias("nullif_hits"),
    )


@register("hll_distinct_users", oracle=_hll_oracle())
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from scratch in exact arithmetic, value-checked: the
    md5-portable hash picks a register (low 8 bits) and a 52-bit field
    whose leading-zero rank comes from a generated integer CASE chain;
    register maxes aggregate per bucket; the harmonic sum is EXACT
    (Σ2^-M_j scaled by 2^53 stays a BIGINT), so the one final double
    division is bit-identical in both engines. Output: estimate vs exact
    distinct with relative error — the mergeable-sketch building block
    for distributed distinct counting, here with a real correctness gate
    instead of 'close enough'."""
    p = 8
    m, wbits, rank_sql, alpha = _hll_parts(p)
    ev = _t(spark, sf_dir, "events")
    h = ev.select(
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv")
    )
    ranked = h.select(
        (F.col("hv").bitwiseAND(F.lit(m - 1))).alias("bucket"),
        F.shiftright("hv", p).alias("w"),
    )
    regs = ranked.groupBy("bucket").agg(F.expr(f"MAX({rank_sql})").alias("mj"))
    full = (
        ev.sparkSession.range(m)
        .select(F.col("id").alias("bucket"))
        .join(regs, "bucket", "left")
        .select("bucket", F.coalesce("mj", F.lit(0)).alias("mj"))
    )
    s = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {wbits + 1} - mj)")).alias(
            "inv_scaled"
        ),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("zeros"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    raw = (
        F.lit(alpha)
        * F.lit(m * m).cast("double")
        * F.lit(1 << (wbits + 1)).cast("double")
        / F.col("inv_scaled").cast("double")
    )
    # linear-counting small-range correction: with V empty registers and
    # a raw estimate under 2.5m, m*ln(m/V) is the accurate regime
    est = F.round(
        F.when(
            (raw <= F.lit(25 * m // 10)) & (F.col("zeros") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
        ).otherwise(raw),
        4,
    )
    return (
        s.join(F.broadcast(exact))
        .select(
            est.alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
    )


@register(
    "bloom_filter_customers",
    oracle=f"""
    WITH member AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (
      SELECT DISTINCT {_PORTABLE_H_DUCK.format(x="concat(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))")} & 8191 AS bit
      FROM member, (SELECT unnest(range(0, 4)) AS j)),
    non_member AS (
      -- shifted keys: disjoint from every real custkey by construction,
      -- so each probe is a true negative and fp_rate is measurable
      SELECT c_custkey + 1000000 AS k FROM customer),
    probe_bits AS (
      SELECT k, {_PORTABLE_H_DUCK.format(x="concat(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))")} & 8191 AS bit
      FROM non_member, (SELECT unnest(range(0, 4)) AS j)),
    hits AS (
      SELECT p.k, COUNT(b.bit) AS n_set
      FROM probe_bits p LEFT JOIN bits b ON b.bit = p.bit
      GROUP BY p.k)
    SELECT (SELECT COUNT(*) FROM member) AS n_members,
           (SELECT COUNT(*) FROM bits) AS n_bits_set,
           COUNT(*) AS n_probes,
           SUM(CASE WHEN n_set = 4 THEN 1 ELSE 0 END) AS n_false_positives,
           ROUND(CAST(SUM(CASE WHEN n_set = 4 THEN 1 ELSE 0 END) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE), 6) AS fp_rate
    FROM hits
    """,
)
def bloom_filter_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter from scratch (8192 bits, 4 md5-portable salted
    hashes) built over customers-with-orders, probed with shifted keys
    that are non-members by construction — the measured false-positive
    rate is an exact integer computation, hash-checked against DuckDB.
    This is the join-pruning primitive (build on the small side, ship
    bits to the fact scan) that Spark's runtime bloom-filter injection
    automates."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    member = orders.select(F.col("o_custkey").alias("k")).distinct()
    js = spark.range(4).select(F.col("id").cast("int").alias("j"))
    h = _PORTABLE_H.format(x="concat(CAST(j AS STRING), ':', CAST(k AS STRING))")
    bits = (
        member.crossJoin(F.broadcast(js))
        .select(F.expr(f"{h} & 8191").alias("bit"))
        .distinct()
    )
    non_member = cust.select(
        (F.col("c_custkey") + 1000000).alias("k")
    )
    probe_bits = non_member.crossJoin(F.broadcast(js)).select(
        "k", F.expr(f"{h} & 8191").alias("bit")
    )
    hits = (
        probe_bits.join(bits.withColumnRenamed("bit", "sbit"),
                        probe_bits.bit == F.col("sbit"), "left")
        .groupBy("k")
        .agg(F.count("sbit").alias("n_set"))
    )
    n_members = member.agg(F.count(F.lit(1)).alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    fp = F.sum(F.when(F.col("n_set") == 4, 1).otherwise(0))
    return (
        hits.agg(
            F.count(F.lit(1)).alias("n_probes"),
            fp.alias("n_false_positives"),
            F.round(
                fp.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("fp_rate"),
        )
        .join(F.broadcast(n_members))
        .join(F.broadcast(n_bits))
        .select(
            "n_members", "n_bits_set", "n_probes", "n_false_positives", "fp_rate"
        )
    )


@register(
    "events_range_interval_window",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_last_hour
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    """,
)
def events_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-BETWEEN-INTERVAL window frames: per-user trailing-hour event
    count and value sum, frame bounded by event TIME rather than row
    count — the semantics rows-based frames cannot express when events
    arrive irregularly. The sum runs in DECIMAL so frame-internal order
    cannot perturb the hash."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(
            "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
        ).alias("n_last_hour"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE)"
        ).alias("sum_last_hour"),
    )
    return out.orderBy("user_id", "ts", "event_id")


@register(
    "agg_filter_clause_breadth",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000)
             AS big_spenders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      FILTER (WHERE o_orderstatus = 'O'), 2) AS DOUBLE)
             AS open_revenue,
           CAST(MIN(o_orderkey) FILTER (WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00') AS BIGINT)
             AS first_1995_order
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_filter_clause_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause breadth: filtered COUNT/ SUM/ MIN and a
    filtered DISTINCT count in one grouped pass — the ANSI way to compute
    many conditional metrics without self-joins or CASE pyramids; one
    scan, one shuffle, partial aggregation intact."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("COUNT(*) FILTER (WHERE o_orderstatus = 'F')").alias(
                "n_finished"
            ),
            F.expr(
                "COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000)"
            ).alias("big_spenders"),
            F.expr(
                "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                "FILTER (WHERE o_orderstatus = 'O'), 2) AS DOUBLE)"
            ).alias("open_revenue"),
            F.expr(
                "CAST(MIN(o_orderkey) FILTER "
                "(WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00') AS BIGINT)"
            ).alias("first_1995_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "orders_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2),
    stats AS (
      SELECT dow, SUM(rev) AS dow_rev, COUNT(*) AS n_days FROM daily GROUP BY dow),
    total AS (
      SELECT SUM(dow_rev) AS all_rev, SUM(n_days) AS all_days FROM stats)
    SELECT s.dow, s.n_days,
           CAST(ROUND(s.dow_rev / s.n_days, 2) AS DOUBLE) AS avg_daily_rev,
           ROUND((CAST(s.dow_rev AS DOUBLE) / CAST(s.n_days AS DOUBLE)) /
                 (CAST((SELECT all_rev FROM total) AS DOUBLE) /
                  CAST((SELECT all_days FROM total) AS DOUBLE)), 6) AS seasonality_index
    FROM stats s
    ORDER BY s.dow
    """,
)
def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: average daily revenue per weekday
    relative to the overall daily average (index 1.0 = typical day).
    Daily sums stay DECIMAL; the index divides two exactly-derived
    doubles once. DuckDB dayofweek is 0-6 Sunday-first; Spark's
    dayofweek is 1-7, so the Spark side subtracts 1 to align."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("dow"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    stats = daily.groupBy("dow").agg(
        F.sum("rev").alias("dow_rev"), F.count(F.lit(1)).alias("n_days")
    )
    total = stats.agg(
        F.sum("dow_rev").alias("all_rev"), F.sum("n_days").alias("all_days")
    )
    return (
        stats.join(F.broadcast(total))
        .select(
            "dow",
            "n_days",
            F.round(F.col("dow_rev") / F.col("n_days"), 2)
            .cast("double")
            .alias("avg_daily_rev"),
            F.round(
                (F.col("dow_rev").cast("double") / F.col("n_days").cast("double"))
                / (
                    F.col("all_rev").cast("double")
                    / F.col("all_days").cast("double")
                ),
                6,
            ).alias("seasonality_index"),
        )
        .orderBy("dow")
    )


@register(
    "events_burst_minutes",
    oracle="""
    WITH per_min AS (
      SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS c
      FROM events GROUP BY 1),
    moments AS (
      SELECT COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss FROM per_min)
    SELECT p.minute, p.c AS n_events,
           ROUND((CAST(p.c AS DOUBLE) - CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE)) /
                 sqrt((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) *
                       CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE)) /
                      CAST(m.n - 1 AS DOUBLE)), 4) AS z
    FROM per_min p CROSS JOIN moments m
    WHERE (CAST(p.c AS DOUBLE) - CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE)) /
          sqrt((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) *
                CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE)) /
               CAST(m.n - 1 AS DOUBLE)) > CAST(3 AS DOUBLE)
    ORDER BY minute
    """,
)
def events_burst_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst detection: minute-bucket counts flagged when more
    than 3 sample standard deviations above the mean. The moments (n,
    Σc, Σc²) are exact integers, so mean/stddev — and therefore every
    flag decision — are bit-identical; no per-row float aggregation."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count(F.lit(1)).alias("c"))
    moments = per_min.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    z = (F.col("c").cast("double") - mean) / F.sqrt(var)
    return (
        per_min.join(F.broadcast(moments))
        .filter(z > F.lit(3).cast("double"))
        .select("minute", F.col("c").alias("n_events"), F.round(z, 4).alias("z"))
        .orderBy("minute")
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       DATE '1998-12-31') AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM rfm)
    SELECT r, f, m, COUNT(*) AS n_customers,
           CAST(MIN(o_custkey) AS BIGINT) AS example_customer
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days before a fixed reference date),
    frequency, and DECIMAL monetary value per customer, each cut into
    quintiles with deterministic customer-id tiebreaks, then segment
    sizes — the classic marketing cube, 125 cells max. Single scan, one
    aggregate, three windows over the small per-customer table."""
    orders = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.col("o_custkey"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.col("o_custkey"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.col("o_custkey"))).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").cast("bigint").alias("example_customer"),
        )
        .orderBy("r", "f", "m")
    )


@register(
    "events_slo_burn_rate",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE event_type = 'error') AS n_err
      FROM events GROUP BY 1),
    windowed AS (
      SELECT hour, n, n_err,
             SUM(n) OVER w6 AS n_6h, SUM(n_err) OVER w6 AS err_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT hour, n, n_err,
           ROUND((CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)) /
                 CAST(0.2 AS DOUBLE), 4) AS burn_1h,
           ROUND((CAST(err_6h AS DOUBLE) / CAST(n_6h AS DOUBLE)) /
                 CAST(0.2 AS DOUBLE), 4) AS burn_6h
    FROM windowed
    WHERE (CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)) /
          CAST(0.2 AS DOUBLE) > CAST(1 AS DOUBLE)
    ORDER BY hour
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate (SRE alerting): hourly error ratio over
    a 20% error budget, with the 6-hour window alongside so a one-hour
    spike can be distinguished from sustained burn. Counts stay integer
    until the single ratio division; flagged hours are those burning
    budget faster than 1x."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("COUNT(*) FILTER (WHERE event_type = 'error')").alias("n_err"),
    )
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    windowed = hourly.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(w6).alias("n_6h"),
        F.sum("n_err").over(w6).alias("err_6h"),
    )
    slo = F.lit(0.2).cast("double")
    burn1 = (F.col("n_err").cast("double") / F.col("n").cast("double")) / slo
    burn6 = (F.col("err_6h").cast("double") / F.col("n_6h").cast("double")) / slo
    return (
        windowed.filter(burn1 > F.lit(1).cast("double"))
        .select(
            "hour",
            "n",
            "n_err",
            F.round(burn1, 4).alias("burn_1h"),
            F.round(burn6, 4).alias("burn_6h"),
        )
        .orderBy("hour")
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    agg AS (
      SELECT p_brand,
             COUNT(*) AS n_suppliers,
             SUM(r) AS total,
             SUM(r * r) AS total_sq
      FROM rev GROUP BY p_brand)
    SELECT p_brand, n_suppliers,
           ROUND(CAST(total_sq AS DOUBLE) /
                 (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS hhi
    FROM agg
    ORDER BY hhi DESC, p_brand
    LIMIT 15
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk: the Herfindahl-Hirschman index of
    supplier revenue share per part brand, computed as Σr²/(Σr)² with
    BOTH sums in exact DECIMAL — so no float share is ever summed and
    the index is bit-stable. HHI near 1 = single-supplier brand (the
    procurement red flag); near 1/n = evenly spread."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    agg = rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("total"),
        F.sum(F.col("r") * F.col("r")).alias("total_sq"),
    )
    return (
        agg.select(
            "p_brand",
            "n_suppliers",
            F.round(
                F.col("total_sq").cast("double")
                / (F.col("total").cast("double") * F.col("total").cast("double")),
                6,
            ).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), "p_brand")
        .limit(15)
    )


@register(
    "nation_trade_balance",
    oracle="""
    WITH flows AS (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                 CAST(1 - l.l_discount AS DECIMAL(9,4))) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2),
    exports AS (
      SELECT supp_nation AS nation, SUM(volume) AS exports FROM flows GROUP BY 1),
    imports AS (
      SELECT cust_nation AS nation, SUM(volume) AS imports FROM flows GROUP BY 1)
    SELECT COALESCE(e.nation, i.nation) AS nation,
           CAST(ROUND(COALESCE(e.exports, 0), 2) AS DOUBLE) AS exports,
           CAST(ROUND(COALESCE(i.imports, 0), 2) AS DOUBLE) AS imports,
           CAST(ROUND(COALESCE(e.exports, 0) - COALESCE(i.imports, 0), 2) AS DOUBLE)
             AS balance
    FROM exports e FULL OUTER JOIN imports i ON e.nation = i.nation
    ORDER BY nation
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade balance: discounted line revenue flows from
    supplier nation to customer nation (intra-nation flows excluded),
    folded into per-nation exports, imports, and balance via a full
    outer join — Q7's flow matrix taken one step further. All sums in
    exact DECIMAL, dimensions broadcast, the fact shuffles once per
    grouping key."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    flows = (
        li.join(F.broadcast(sup), sup.s_suppkey == li.l_suppkey)
        .join(F.broadcast(sn), F.col("sn_key") == sup.s_nationkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(cn), F.col("cn_key") == cust.c_nationkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(9,4)")
            ).alias("volume")
        )
    )
    exports = flows.groupBy(F.col("supp_nation").alias("nation")).agg(
        F.sum("volume").alias("exports")
    )
    imports = flows.groupBy(F.col("cust_nation").alias("nation")).agg(
        F.sum("volume").alias("imports")
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        exports.join(imports, "nation", "full_outer")
        .select(
            "nation",
            F.round(F.coalesce(F.col("exports"), zero), 2)
            .cast("double")
            .alias("exports"),
            F.round(F.coalesce(F.col("imports"), zero), 2)
            .cast("double")
            .alias("imports"),
            F.round(
                F.coalesce(F.col("exports"), zero)
                - F.coalesce(F.col("imports"), zero),
                2,
            )
            .cast("double")
            .alias("balance"),
        )
        .orderBy("nation")
    )


@register(
    "orders_gini_coefficient",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM spend),
    sums AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * i) AS sxi FROM ranked)
    SELECT n,
           CAST(ROUND(sx, 2) AS DOUBLE) AS total_spend,
           ROUND(CAST(2 AS DOUBLE) * CAST(sxi AS DOUBLE) /
                 (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) -
                 (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(n AS DOUBLE),
                 6) AS gini
    FROM sums
    """,
)
def orders_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the revenue-inequality KPI.
    Uses the rank formulation G = 2·Σi·x(i)/(n·Σx) − (n+1)/n over spend
    sorted ascending with a customer-id tiebreak; Σx and Σi·x stay exact
    DECIMAL so the one double evaluation at the end is bit-stable."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    ranked = spend.select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.col("x"), F.col("o_custkey")))
        .alias("i"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("i")).alias("sxi"),
    )
    nd = F.col("n").cast("double")
    gini = F.round(
        F.lit(2).cast("double")
        * F.col("sxi").cast("double")
        / (nd * F.col("sx").cast("double"))
        - (nd + F.lit(1).cast("double")) / nd,
        6,
    )
    return sums.select(
        "n",
        F.round(F.col("sx"), 2).cast("double").alias("total_spend"),
        gini.alias("gini"),
    )


@register(
    "orders_daily_dispersion",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY 1),
    m AS (SELECT COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss FROM daily)
    SELECT n AS n_days,
           CAST(s AS BIGINT) AS n_orders,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_per_day,
           ROUND((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                  CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE), 4) AS variance,
           ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                   CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) /
                 (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS dispersion_index
    FROM m
    """,
)
def orders_daily_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance/mean) of daily order counts — the
    Poisson-ness check: ≈1 means memoryless arrivals, >1 means bursty
    demand, <1 means regularized flow. Exact integer moments (n, Σc,
    Σc²) with double evaluation only at the end."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean = sd / nd
    var = (ssd - sd * sd / nd) / (F.col("n") - 1).cast("double")
    return m.select(
        F.col("n").alias("n_days"),
        F.col("s").cast("bigint").alias("n_orders"),
        F.round(mean, 4).alias("mean_per_day"),
        F.round(var, 4).alias("variance"),
        F.round(var / mean, 4).alias("dispersion_index"),
    )


@register(
    "lineitem_discount_tax_crosstab",
    oracle="""
    SELECT CASE WHEN l_discount < 0.03 THEN 'low'
                WHEN l_discount < 0.07 THEN 'mid' ELSE 'high' END AS discount_band,
           CASE WHEN l_tax < 0.03 THEN 'low'
                WHEN l_tax < 0.06 THEN 'mid' ELSE 'high' END AS tax_band,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY discount_band, tax_band
    """,
)
def lineitem_discount_tax_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional banding cross-tab: revenue by discount band × tax
    band — one scan, one grouped aggregate over derived categorical
    dimensions, DECIMAL-exact revenue."""
    li = _t(spark, sf_dir, "lineitem")
    disc = (
        F.when(F.col("l_discount") < 0.03, "low")
        .when(F.col("l_discount") < 0.07, "mid")
        .otherwise("high")
    )
    tax = (
        F.when(F.col("l_tax") < 0.03, "low")
        .when(F.col("l_tax") < 0.06, "mid")
        .otherwise("high")
    )
    return (
        li.groupBy(disc.alias("discount_band"), tax.alias("tax_band"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("discount_band", "tax_band")
    )


@register(
    "customer_abc_classes",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, x,
             SUM(x) OVER (ORDER BY x DESC, o_custkey) AS cum,
             (SELECT SUM(x) FROM spend) AS total
      FROM spend),
    classed AS (
      SELECT o_custkey, x,
             CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                       <= CAST(0.8 AS DOUBLE) THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                       <= CAST(0.95 AS DOUBLE) THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT abc, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(x), 2) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(x) AS DOUBLE) /
                 CAST((SELECT SUM(x) FROM spend) AS DOUBLE), 6) AS revenue_share
    FROM classed
    GROUP BY abc
    ORDER BY abc
    """,
)
def customer_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification: customers sorted by spend, classed A
    while the cumulative share stays within 80%, B to 95%, C after —
    inventory-management's pareto buckets. The cumulative window runs on
    exact DECIMAL; each class decision divides two exact values once, so
    boundary assignments are bit-stable."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    total = spend.agg(F.sum("x").alias("total"))
    w = Window.orderBy(F.desc("x"), F.col("o_custkey"))
    ranked = spend.join(F.broadcast(total)).select(
        "o_custkey", "x", F.sum("x").over(w).alias("cum"), "total"
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    classed = ranked.select(
        "x",
        "total",
        F.when(share <= F.lit(0.8).cast("double"), "A")
        .when(share <= F.lit(0.95).cast("double"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("x"), 2).cast("double").alias("revenue"),
            F.round(
                F.sum("x").cast("double") / F.max("total").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )


@register(
    "events_winsorized_stats",
    oracle="""
    WITH caps AS (
      SELECT quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events),
    capped AS (
      SELECT CAST(ROUND(CASE WHEN value < (SELECT lo FROM caps) THEN (SELECT lo FROM caps)
                             WHEN value > (SELECT hi FROM caps) THEN (SELECT hi FROM caps)
                             ELSE value END, 6) AS DECIMAL(18,6)) AS v,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS raw
      FROM events)
    SELECT COUNT(*) AS n,
           ROUND(CAST((SELECT lo FROM caps) AS DOUBLE), 4) AS cap_lo,
           ROUND(CAST((SELECT hi FROM caps) AS DOUBLE), 4) AS cap_hi,
           ROUND(CAST(SUM(raw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS mean_raw,
           ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS mean_winsorized,
           SUM(CASE WHEN v <> raw THEN 1 ELSE 0 END) AS n_capped
    FROM capped
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean: cap values at the 5th/95th percentiles and
    compare against the raw mean — the outlier-taming transform feature
    pipelines apply before scaling. Capped and raw values round into
    DECIMAL before summation (exact under any row order); means divide
    once in DOUBLE; the percentile caps interpolate identically."""
    ev = _t(spark, sf_dir, "events")
    caps = ev.agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    capped = ev.join(F.broadcast(caps)).select(
        F.round(
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("v"),
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("raw"),
        "lo",
        "hi",
    )
    return capped.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("lo").cast("double"), 4).alias("cap_lo"),
        F.round(F.max("hi").cast("double"), 4).alias("cap_hi"),
        F.round(
            F.sum("raw").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mean_raw"),
        F.round(
            F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mean_winsorized"),
        F.sum(F.when(F.col("v") != F.col("raw"), 1).otherwise(0)).alias(
            "n_capped"
        ),
    )


@register(
    "lineitem_quantity_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2),
    best AS (
      SELECT l_returnflag, l_quantity AS mode_quantity, c AS mode_count
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                         ORDER BY c DESC, l_quantity) AS rn
            FROM counts)
      WHERE rn = 1)
    SELECT l_returnflag, CAST(mode_quantity AS DOUBLE) AS mode_quantity,
           mode_count
    FROM best
    ORDER BY l_returnflag
    """,
)
def lineitem_quantity_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group: value-count aggregate then a
    tie-broken row_number — unlike the built-in `mode()` whose tie
    winner is arbitrary, this pins (count desc, value asc) so the result
    is reproducible and oracle-checkable."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("c"), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("double").alias("mode_quantity"),
            F.col("c").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "region_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                 CAST(1 - l.l_discount AS DECIMAL(9,4))) AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1),
    tot AS (SELECT SUM(revenue) AS total FROM rev)
    SELECT region,
           CAST(ROUND(revenue, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(revenue AS DOUBLE) /
                 CAST((SELECT total FROM tot) AS DOUBLE), 6) AS share
    FROM rev
    ORDER BY region
    """,
)
def region_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional revenue mix: discounted line revenue rolled to the
    5-region grain with exact DECIMAL sums and one share division —
    dimensions broadcast down the snowflake, the fact shuffles once."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    rev = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nat), nat.n_nationkey == cust.c_nationkey)
        .join(F.broadcast(reg), reg.r_regionkey == nat.n_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(9,4)")
            ).alias("revenue")
        )
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    return (
        rev.join(F.broadcast(tot))
        .select(
            "region",
            F.round(F.col("revenue"), 2).cast("double").alias("revenue"),
            F.round(
                F.col("revenue").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("region")
    )


@register(
    "events_hourly_profile",
    oracle="""
    WITH hourly AS (
      SELECT CAST(hour(ts) AS INT) AS hour_of_day, COUNT(*) AS n
      FROM events GROUP BY 1),
    tot AS (SELECT SUM(n) AS total, MAX(n) AS peak FROM hourly)
    SELECT hour_of_day, n,
           ROUND(CAST(n AS DOUBLE) /
                 CAST((SELECT total FROM tot) AS DOUBLE), 6) AS share,
           CASE WHEN n = (SELECT peak FROM tot) THEN 1 ELSE 0 END AS is_peak
    FROM hourly
    ORDER BY hour_of_day
    """,
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile (UTC session, so hour extraction
    agrees across engines) with traffic share and peak-hour flag — the
    capacity-planning histogram."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = hourly.agg(F.sum("n").alias("total"), F.max("n").alias("peak"))
    return (
        hourly.join(F.broadcast(tot))
        .select(
            "hour_of_day",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
            F.when(F.col("n") == F.col("peak"), 1).otherwise(0).alias("is_peak"),
        )
        .orderBy("hour_of_day")
    )


@register(
    "orders_monthly_status_mix",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY mon, o_orderstatus
    """,
)
def orders_monthly_status_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order-status composition with DECIMAL-exact revenue — the
    operational mix report; one scan, one grouped aggregate."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("mon", "o_orderstatus")
    )


@register(
    "events_value_boxplot",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS min_v,
           ROUND(quantile_cont(value, 0.25), 4) AS q1,
           ROUND(quantile_cont(value, 0.5), 4) AS median_v,
           ROUND(quantile_cont(value, 0.75), 4) AS q3,
           ROUND(MAX(value), 4) AS max_v
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_value_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-number summary (boxplot) of event values per type — grouped
    interpolated quantiles in one aggregate pass; Spark `percentile` and
    DuckDB `quantile_cont` share the interpolation rule, and sorting
    NaN-free doubles is a total order, so every summary value matches."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("q1"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_v"),
            F.round(F.expr("percentile(value, 0.75)"), 4).alias("q3"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
        .orderBy("event_type")
    )


@register(
    "lineitem_monthly_return_rate",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
             COUNT(*) AS n_lines,
             COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
      FROM lineitem GROUP BY 1)
    SELECT mon, n_lines, n_returned,
           ROUND(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
             AS return_rate
    FROM m
    ORDER BY mon
    """,
)
def lineitem_monthly_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return rate from the line-level return flag — one grouped
    FILTER aggregate and a single ratio division; the operations trend
    line for returns."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("mon")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr("COUNT(*) FILTER (WHERE l_returnflag = 'R')").alias(
                "n_returned"
            ),
        )
        .select(
            "mon",
            "n_lines",
            "n_returned",
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines").cast("double"),
                6,
            ).alias("return_rate"),
        )
        .orderBy("mon")
    )


@register(
    "events_rollup_multi_granularity",
    oracle="""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS h,
             date_trunc('day', ts) AS d,
             date_trunc('week', ts) AS wk,
             value
      FROM events),
    g AS (
      SELECT h, d, wk, COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
      FROM base
      GROUP BY GROUPING SETS ((h), (d), (wk)))
    SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                WHEN d IS NOT NULL THEN 'day'
                ELSE 'week' END AS grain,
           COALESCE(h, d, wk) AS bucket_start,
           n_events, sum_value
    FROM g
    ORDER BY grain, bucket_start
    """,
)
def events_rollup_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one scan feeds hour,
    day, and week buckets via GROUPING SETS — the single-pass form of
    maintaining multiple rollup tables (what a time-series engine calls a
    cascaded continuous aggregate). Sums go through DECIMAL so the three
    granularities are exactly consistent with each other."""
    ev = _t(spark, sf_dir, "events")
    ev.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("wk"),
        "value",
    ).createOrReplaceTempView("__ev_rollup_base")
    return ev.sparkSession.sql("""
        WITH g AS (
          SELECT h, d, wk, COUNT(*) AS n_events,
                 CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
          FROM __ev_rollup_base
          GROUP BY GROUPING SETS ((h), (d), (wk)))
        SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                    WHEN d IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               COALESCE(h, d, wk) AS bucket_start,
               n_events, sum_value
        FROM g
        ORDER BY grain, bucket_start
    """)


@register(
    "orders_holt_linear_trend",
    oracle=f"""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE) AS x
      FROM orders GROUP BY 1),
    series AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM daily),
    holt(i, l, t) AS (
      SELECT 1, x, CAST(0 AS DOUBLE) FROM series WHERE i = 1
      UNION ALL
      SELECT s.i,
             0.5 * s.x + 0.5 * (h.l + h.t),
             0.5 * ((0.5 * s.x + 0.5 * (h.l + h.t)) - h.l) + 0.5 * h.t
      FROM holt h JOIN series s ON s.i = h.i + 1)
    SELECT CAST(i AS BIGINT) AS n_days,
           ROUND(l, 6) AS level,
           ROUND(t, 6) AS trend,
           ROUND(l + 7 * t, 6) AS forecast_7d
    FROM holt ORDER BY i DESC LIMIT 1
    """,
)
def orders_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level+trend) exponential smoothing over the daily
    revenue series, alpha=beta=0.5 — the two-state cousin of the EWMA
    query. The recurrence is a strictly ordered fold, so the distributed
    part is the daily aggregate; the fold runs over the collected
    (days-sized) array via aggregate() with a struct accumulator, and the
    oracle replays it with a recursive CTE. Halving coefficients keep
    every step an exact double op on both engines."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
        .cast("double")
        .alias("x")
    )
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "x"))), lambda s: s["x"]
        ).alias("xs")
    )
    state = "named_struct('l', CAST(0 AS DOUBLE), 't', CAST(0 AS DOUBLE), 'n', CAST(0 AS BIGINT))"
    step = (
        "(acc, x) -> IF(acc.n = 0, named_struct('l', x, 't', CAST(0 AS DOUBLE), 'n', CAST(1 AS BIGINT)), "
        "named_struct("
        "'l', CAST(0.5 AS DOUBLE) * x + CAST(0.5 AS DOUBLE) * (acc.l + acc.t), "
        "'t', CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * x + CAST(0.5 AS DOUBLE) * (acc.l + acc.t)) - acc.l) + CAST(0.5 AS DOUBLE) * acc.t, "
        "'n', acc.n + 1))"
    )
    return arr.select(
        F.expr(f"aggregate(xs, {state}, {step})").alias("h")
    ).select(
        F.col("h.n").alias("n_days"),
        F.round("h.l", 6).alias("level"),
        F.round("h.t", 6).alias("trend"),
        F.round(F.col("h.l") + 7 * F.col("h.t"), 6).alias("forecast_7d"),
    )


@register(
    "orders_lttb_downsample",
    oracle=f"""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE) AS y
      FROM orders GROUP BY 1),
    pts AS (
      SELECT datediff('day', DATE '1970-01-01', day) AS x, y,
             ROW_NUMBER() OVER (ORDER BY day) AS rk,
             COUNT(*) OVER () AS n
      FROM daily),
    par AS (
      SELECT n, CAST(CEIL((n - 2) / CAST(10 AS DOUBLE)) AS INT) AS bsize
      FROM pts LIMIT 1),
    firstpt AS (SELECT x, y FROM pts WHERE rk = 1),
    lastpt AS (SELECT p.x, p.y FROM pts p, par WHERE p.rk = par.n),
    mid AS (
      SELECT p.x, p.y, 1 + CAST((p.rk - 2) // par.bsize AS INT) AS b
      FROM pts p, par WHERE p.rk > 1 AND p.rk < par.n),
    bl AS (
      SELECT b,
             list_sort(list({{'x': x, 'y': y}})) AS cands
      FROM mid GROUP BY b),
    bl_avg AS (
      SELECT b, cands,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               [CAST(c.x AS DOUBLE) FOR c IN cands]), (a, v) -> a + v)
               / len(cands) AS ax,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               [c.y FOR c IN cands]), (a, v) -> a + v) / len(cands) AS ay
      FROM bl),
    bl2 AS (
      SELECT cur.b, cur.cands,
             COALESCE(nxt.ax, (SELECT CAST(x AS DOUBLE) FROM lastpt)) AS nax,
             COALESCE(nxt.ay, (SELECT y FROM lastpt)) AS nay
      FROM bl_avg cur LEFT JOIN bl_avg nxt ON nxt.b = cur.b + 1),
    lttb(b, px, py, selx, sely) AS (
      SELECT 0, CAST(x AS DOUBLE), y, CAST(NULL AS INT), CAST(NULL AS DOUBLE)
      FROM firstpt
      UNION ALL
      SELECT b2.b,
             CAST(ch.x AS DOUBLE), ch.y, ch.x, ch.y
      FROM lttb l JOIN bl2 b2 ON b2.b = l.b + 1,
      LATERAL (
        SELECT s.x, s.y FROM (
          SELECT unnest(list_sort(
            [{{'na': -abs((l.px - b2.nax) * (c.y - l.py)
                        - (l.px - CAST(c.x AS DOUBLE)) * (b2.nay - l.py)),
               'x': c.x, 'y': c.y}} FOR c IN b2.cands]))
            AS s LIMIT 1)
      ) ch)
    SELECT x, y FROM firstpt
    UNION ALL SELECT selx, sely FROM lttb WHERE selx IS NOT NULL
    UNION ALL SELECT x, y FROM lastpt
    ORDER BY x
    """,
)
def orders_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the daily revenue
    series to 12 points — the perceptual line-chart decimation algorithm
    (keep the point per bucket that subtends the largest triangle with
    the previously kept point and the next bucket's centroid). The
    sequential selection runs as one aggregate() fold over the collected
    bucket array (buckets are the state, not the corpus — the daily
    aggregate is the distributed part); the oracle replays every pick
    with a recursive CTE + lateral argmin, and the area arithmetic is
    ordered identically on both sides, so even ties resolve the same."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
        .cast("double")
        .alias("y")
    )
    pts = daily.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("x"), "y"
    )
    n = pts.count()
    k_out = 12
    bsize = -(-(n - 2) // (k_out - 2))
    w = Window.orderBy("x")
    ranked = pts.withColumn("rk", F.row_number().over(w))
    first = ranked.filter(F.col("rk") == 1).select("x", "y").first()
    last = ranked.filter(F.col("rk") == n).select("x", "y").first()
    mid = ranked.filter((F.col("rk") > 1) & (F.col("rk") < n)).withColumn(
        "b", 1 + ((F.col("rk") - 2) / bsize).cast("int")
    )
    bl = mid.groupBy("b").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("cands")
    )
    bl = bl.select(
        "b",
        "cands",
        (
            F.aggregate(
                F.col("cands"), F.lit(0.0), lambda a, s: a + s["x"].cast("double")
            )
            / F.size("cands")
        ).alias("ax"),
        (
            F.aggregate(F.col("cands"), F.lit(0.0), lambda a, s: a + s["y"])
            / F.size("cands")
        ).alias("ay"),
    )
    bl2 = (
        bl.alias("cur")
        .join(
            bl.select(
                (F.col("b") - 1).alias("b"),
                F.col("ax").alias("nax"),
                F.col("ay").alias("nay"),
            ).alias("nxt"),
            "b",
            "left",
        )
        .select(
            "b",
            "cands",
            F.coalesce("nax", F.lit(float(last.x))).alias("nax"),
            F.coalesce("nay", F.lit(float(last.y))).alias("nay"),
        )
    )
    buckets = bl2.agg(
        F.sort_array(F.collect_list(F.struct("b", "cands", "nax", "nay"))).alias("bs")
    )
    state = (
        f"named_struct('px', CAST({float(first.x)!r} AS DOUBLE), "
        f"'py', CAST({float(first.y)!r} AS DOUBLE), "
        "'sel', CAST(array() AS ARRAY<STRUCT<x: INT, y: DOUBLE>>))"
    )
    choose = (
        "array_sort(transform(bkt.cands, c -> named_struct("
        "'area', abs((acc.px - bkt.nax) * (c.y - acc.py) "
        "- (acc.px - CAST(c.x AS DOUBLE)) * (bkt.nay - acc.py)), "
        "'x', c.x, 'y', c.y)), "
        "(a, b) -> CASE WHEN a.area > b.area THEN -1 WHEN a.area < b.area THEN 1 "
        "WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END)[0]"
    )
    step = (
        f"(acc, bkt) -> named_struct('px', CAST({choose}.x AS DOUBLE), "
        f"'py', {choose}.y, "
        f"'sel', array_append(acc.sel, named_struct('x', {choose}.x, 'y', {choose}.y)))"
    )
    spark_sel = buckets.select(
        F.explode(F.expr(f"aggregate(bs, {state}, {step})").getField("sel")).alias("s")
    ).select(F.col("s.x").alias("x"), F.col("s.y").alias("y"))
    ends = spark.createDataFrame(
        [(int(first.x), float(first.y)), (int(last.x), float(last.y))],
        "x int, y double",
    )
    return spark_sel.unionByName(ends).orderBy("x")


@register(
    "events_linear_interpolation",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE user_id < 20 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
    grid AS (
      SELECT b.user_id, CAST(b.d0 + CAST(g.i AS INT) AS DATE) AS day
      FROM bounds b
      CROSS JOIN LATERAL (SELECT unnest(range(0, datediff('day', b.d0, b.d1) + 1)) AS i) g),
    joined AS (
      SELECT g.user_id, g.day, d.n,
             datediff('day', DATE '1970-01-01', g.day) AS x
      FROM grid g LEFT JOIN daily d USING (user_id, day)),
    filled AS (
      SELECT user_id, day, n, x,
             MAX(CASE WHEN n IS NOT NULL THEN x END)
               OVER (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
             MIN(CASE WHEN n IS NOT NULL THEN x END)
               OVER (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx,
             LAST_VALUE(n IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             FIRST_VALUE(n IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM joined)
    SELECT user_id,
           COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_interpolated,
           CAST(ROUND(SUM(CAST(ROUND(
             CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                  ELSE CAST(pv AS DOUBLE)
                       + (CAST(nv AS DOUBLE) - pv) * (x - px) / (nx - px)
             END, 6) AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_filled_volume
    FROM filled
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over gaps in per-user daily event counts —
    the resampling cousin of LOCF: each missing day gets
    prev + (next-prev)·(d-d_prev)/(d_next-d_prev) between its two known
    neighbors. Densify via sequence(), find neighbors with one forward
    and one backward window pass (no per-gap joins), and the per-row
    rational arithmetic is order-free; sums are decimal-fixed."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "x", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_x = F.when(F.col("n").isNotNull(), F.col("x"))
    filled = joined.select(
        "user_id",
        "n",
        "x",
        F.max(known_x).over(wb).alias("px"),
        F.min(known_x).over(wf).alias("nx"),
        F.last("n", ignorenulls=True).over(wb).alias("pv"),
        F.first("n", ignorenulls=True).over(wf).alias("nv"),
    )
    val = F.when(F.col("n").isNotNull(), F.col("n").cast("double")).otherwise(
        F.col("pv").cast("double")
        + (F.col("nv").cast("double") - F.col("pv"))
        * (F.col("x") - F.col("px"))
        / (F.col("nx") - F.col("px"))
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_interpolated"),
            F.round(
                F.sum(F.round(val, 6).cast("decimal(18,6)")), 6
            )
            .cast("double")
            .alias("total_filled_volume"),
        )
        .orderBy("user_id")
    )


@register(
    "events_cusum_change_detection",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1),
    kref AS (
      -- reference level: global mean daily count, rounded to an exact
      -- 2dp value so the fold arithmetic is identical in both engines
      SELECT ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 2) AS k FROM daily),
    series AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, CAST(x AS DOUBLE) AS x
      FROM daily),
    cusum(i, s, alarms, peak) AS (
      SELECT 1, GREATEST(CAST(0 AS DOUBLE), x - (SELECT k FROM kref)),
             CASE WHEN GREATEST(CAST(0 AS DOUBLE), x - (SELECT k FROM kref))
                       > 2 * (SELECT k FROM kref) THEN 1 ELSE 0 END,
             GREATEST(CAST(0 AS DOUBLE), x - (SELECT k FROM kref))
      FROM series WHERE i = 1
      UNION ALL
      SELECT s2.i,
             GREATEST(CAST(0 AS DOUBLE), c.s + s2.x - (SELECT k FROM kref)),
             c.alarms + CASE WHEN GREATEST(CAST(0 AS DOUBLE),
                                  c.s + s2.x - (SELECT k FROM kref))
                                  > 2 * (SELECT k FROM kref) THEN 1 ELSE 0 END,
             GREATEST(c.peak, GREATEST(CAST(0 AS DOUBLE),
                      c.s + s2.x - (SELECT k FROM kref)))
      FROM cusum c JOIN series s2 ON s2.i = c.i + 1)
    SELECT CAST(i AS BIGINT) AS n_days,
           (SELECT k FROM kref) AS reference_level,
           CAST(alarms AS BIGINT) AS n_alarm_days,
           ROUND(peak, 6) AS peak_cusum
    FROM cusum ORDER BY i DESC LIMIT 1
    """,
)
def events_cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on the daily event-count series:
    s_i = max(0, s_{i-1} + x_i - k) with k = the (rounded) global mean,
    alarm when s exceeds 2k — the standard sequential drift alarm. Like
    Holt/NFD/LTTB the recurrence folds over the collected daily array
    (the distributed work is the daily aggregate); the oracle replays the
    fold with a recursive CTE, and k is rounded once so every step is
    the same double arithmetic on both engines."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    kref = daily.agg(
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 2).alias("k")
    ).first()
    k = float(kref.k)
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("xs")
    )
    state = (
        "named_struct('s', CAST(0 AS DOUBLE), 'alarms', CAST(0 AS BIGINT), "
        "'peak', CAST(0 AS DOUBLE), 'n', CAST(0 AS BIGINT))"
    )
    step = (
        f"(acc, x) -> named_struct("
        f"'s', GREATEST(CAST(0 AS DOUBLE), acc.s + x - CAST({k!r} AS DOUBLE)), "
        f"'alarms', acc.alarms + IF(GREATEST(CAST(0 AS DOUBLE), acc.s + x - CAST({k!r} AS DOUBLE)) > 2 * CAST({k!r} AS DOUBLE), 1, 0), "
        f"'peak', GREATEST(acc.peak, GREATEST(CAST(0 AS DOUBLE), acc.s + x - CAST({k!r} AS DOUBLE))), "
        f"'n', acc.n + 1)"
    )
    return arr.select(F.expr(f"aggregate(xs, {state}, {step})").alias("c")).select(
        F.col("c.n").alias("n_days"),
        F.lit(k).alias("reference_level"),
        F.col("c.alarms").alias("n_alarm_days"),
        F.round(F.col("c.peak"), 6).alias("peak_cusum"),
    )


@register(
    "events_hourly_autocorrelation",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
      FROM events GROUP BY 1),
    idx AS (
      SELECT ROW_NUMBER() OVER (ORDER BY h) AS i, x FROM hourly),
    lagged AS (
      SELECT a.x AS x0, b.x AS x1
      FROM idx a JOIN idx b ON b.i = a.i + 24),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(x0 * x1) AS sxy, SUM(x0) AS sx, SUM(x1) AS sy,
             SUM(x0 * x0) AS sxx, SUM(x1 * x1) AS syy
      FROM lagged)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                 (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             AS autocorr_lag24
    FROM s
    """,
)
def events_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-24 autocorrelation of the hourly event-count series — the
    daily-seasonality detector (a strong positive value means traffic
    repeats on a 24-hour cycle). Counts are integers, the lag pairing is
    a self-join on the hour index, and every sum in the correlation
    formula stays integer until the single final expression — the same
    exactness discipline as the Spearman query."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    idx = hourly.select(
        F.row_number().over(Window.orderBy("h")).alias("i"), "x"
    )
    lagged = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("b.i") == F.col("a.i") + 24)
        .select(F.col("a.x").alias("x0"), F.col("b.x").alias("x1"))
    )
    s = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x0") * F.col("x1")).alias("sxy"),
        F.sum("x0").alias("sx"),
        F.sum("x1").alias("sy"),
        F.sum(F.col("x0") * F.col("x0")).alias("sxx"),
        F.sum(F.col("x1") * F.col("x1")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            (n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("autocorr_lag24"),
    )


@register(
    "events_fano_burstiness",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM hourly GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_per_hour,
           ROUND((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
                 (CAST(n AS DOUBLE) * sx), 6) AS fano_factor
    FROM s ORDER BY event_type
    """,
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of hourly counts per event
    type — the burstiness index (1 = Poisson, >1 = bursty arrivals, the
    signal that decides whether rate-based capacity planning works).
    Integer count sums feed one final double expression — the same
    exactness discipline as the correlation queries."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias("mean_per_hour"),
        F.round(
            (n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            / (n_d * F.col("sx")),
            6,
        ).alias("fano_factor"),
    ).orderBy("event_type")


@register("join_null_aware_anti", oracle=_NULL_AWARE_ANTI_SQL)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN is not an anti join when the list can hold NULLs — ANSI
    three-valued logic makes `x NOT IN (..., NULL)` never-true, so the
    nullable variant counts 0 while the clean variant is a real anti
    join. Catalyst plans the nullable branch as a null-aware anti join
    (single-key BroadcastHashJoin with isNullAware=true) rather than a
    correlated per-row subquery — the semantics corner AND its scalable
    physical plan, pinned against DuckDB running the identical SQL."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_NULL_AWARE_ANTI_SQL)


@register(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_quantity AS {_DEC})), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS {_DEC})), 2) AS DOUBLE)
             AS sum_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free fact-fact join: both tables bucketed AND sorted
    by the join key (16 buckets), so the SortMergeJoin reads co-located
    buckets with NO exchange and NO sort on either side — at 100 TB this
    is the difference between a join that moves both tables over the
    network and one that moves nothing. Values must equal the plain
    join on the raw parquet (bucketing is a physical property only),
    which is exactly what the oracle checks."""
    import os

    wh = _qstage("bucketed_wh")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    for name, df, key in (
        ("bkt_orders", orders, "o_orderkey"),
        ("bkt_lineitem", li, "l_orderkey"),
    ):
        (
            df.write.bucketBy(16, key)
            .sortBy(key)
            .option("path", os.path.join(wh, name))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    o = spark.table("bkt_orders").hint("merge")
    l = spark.table("bkt_lineitem")
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_quantity").cast(_DEC)), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC)), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sql_udf_breadth",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(ROUND(SUM({_NET_PRICE_BODY.format(p="l_extendedprice",
                                                  d="l_discount",
                                                  t="l_tax")}), 2)
                AS DOUBLE) AS sum_net,
           SUM(CASE WHEN (CASE WHEN l_quantity >= 40 THEN 'bulk'
                               WHEN l_quantity >= 10 THEN 'mid'
                               ELSE 'small' END) = 'bulk' THEN 1 ELSE 0 END)
             AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_udf_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN):
    a net-price expression and a CASE classifier defined as catalog
    functions, used inside an aggregate. Unlike Python UDFs these
    INLINE into the plan — Catalyst substitutes the body, so codegen,
    pushdown and vectorization all still apply (the oracle is literally
    the inlined form). The user-facing contract: business logic shared
    across queries without leaving the JVM fast path."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DECIMAL(38,10) "
        "RETURN " + _NET_PRICE_BODY.format(p="p", d="d", t="t")
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN q >= 40 THEN 'bulk' "
        "WHEN q >= 10 THEN 'mid' ELSE 'small' END"
    )
    return spark.sql(_SQL_UDF_QUERY)


# ---------------------------------------------------------------------------
# Experimentation + plan-reuse breadth (round 2).
# ---------------------------------------------------------------------------


@register(
    "events_ab_test_zscore",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
               AS grp,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events GROUP BY user_id),
    gtot AS (
      SELECT COUNT(*) AS nu, SUM(s) AS tot FROM per_user),
    assign AS (
      SELECT grp,
             CASE WHEN s * nu > tot THEN 1 ELSE 0 END AS converted
      FROM per_user, gtot),
    agg AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_b,
             CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS DOUBLE) AS c_a,
             CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS DOUBLE) AS c_b
      FROM assign)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
           ROUND((c_a / n_a) - (c_b / n_b), 6) AS conv_rate_diff,
           ROUND(CASE WHEN (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b)
                      THEN NULL
                      ELSE ((c_a / n_a) - (c_b / n_b)) /
                           SQRT(((c_a + c_b) / (n_a + n_b)) *
                                (1 - (c_a + c_b) / (n_a + n_b)) *
                                (1 / n_a + 1 / n_b)) END, 6) AS z_score
    FROM agg
    """,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test harness: users hash-split 50/50 by
    md5(user_id) (the leakage-free assignment every online experiment
    uses — stable under reprocessing, no coordination), with an
    above-average-spender conversion metric decided by EXACT decimal
    cross-multiplication (s * n_users > total — no division, no float
    mean), then the pooled-variance z statistic. The null split means
    |z| should be small — the A/A-test sanity check an experimentation
    pipeline runs on itself; degenerate all/none conversion yields NULL
    z in both engines. One per-user aggregate + one 4-counter fold."""
    ev = _t(spark, sf_dir, "events")
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    ).withColumn("grp", grp)
    glob = per_user.agg(
        F.count(F.lit(1)).alias("nu"), F.sum("s").alias("tot")
    )
    assign = per_user.crossJoin(F.broadcast(glob)).select(
        "grp",
        F.when(
            F.col("s") * F.col("nu") > F.col("tot"), 1
        ).otherwise(0).alias("converted"),
    )
    agg = assign.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("double").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("double").alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("double").alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("double").alias("c_b"),
    )
    p = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        F.round(F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b"), 6)
        .alias("conv_rate_diff"),
        F.round(
            F.when(
                (F.col("c_a") + F.col("c_b") == 0)
                | (F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")),
                F.lit(None).cast("double"),
            ).otherwise(
                (F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b"))
                / F.sqrt(
                    p * (F.lit(1) - p)
                    * (F.lit(1) / F.col("n_a") + F.lit(1) / F.col("n_b"))
                )
            ),
            6,
        ).alias("z_score"),
    )


@register("catalog_profile_all_tables", oracle=_catalog_profile_oracle())
def catalog_profile_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-catalog inventory: one (table, row count, column count) row
    per registered table — the dataset-card readout the reference's
    per-topic export manifest corresponds to (one manifest line per
    topic/collection; SURVEY §2.5). Ten count-star scans that each read
    zero columns (parquet row-group metadata only)."""
    from ..sources.catalog import TABLES

    outs = []
    for t in sorted(TABLES):
        df = _t(spark, sf_dir, t)
        outs.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                F.lit(len(df.columns)).cast("bigint").alias("n_cols"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


@register(
    "pandas_api_monthly_rollup",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE)
             AS revenue,
           CAST(ROUND(MAX(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE)
             AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def pandas_api_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark surface (pyspark.pandas): a
    pandas-looking groupby/agg that compiles to the SAME distributed
    plan as the DataFrame API — pinned by checking it against the plain
    SQL aggregate. This is the migration path for pandas codebases: the
    API is pandas, the execution is Catalyst (no driver-side collect).
    Decimal sums keep the revenue engine-exact."""
    import warnings

    import pyspark.pandas as ps

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import os as _os

        psdf = ps.read_parquet(_os.path.join(sf_dir, "orders.parquet"))
        psdf = psdf.assign(dec_price=psdf.o_totalprice)
        out = (
            psdf.groupby("o_orderstatus")
            .agg(n_orders=("o_orderkey", "count"))
            .reset_index()
        )
        sdf = out.to_spark()
    # exact money math stays in the DataFrame layer (pandas-API sum would
    # run float addition); join the decimal aggregate on the same key
    orders = _t(spark, sf_dir, "orders")
    money = orders.groupBy("o_orderstatus").agg(
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
        .cast("double")
        .alias("revenue"),
        F.round(F.max(F.col("o_totalprice").cast(_DEC)), 2)
        .cast("double")
        .alias("max_price"),
    )
    return sdf.join(money, "o_orderstatus").orderBy("o_orderstatus")


@register(
    "weighted_sample_aes",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -ln((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                 / CAST(1152921504606846976 AS DOUBLE)) / n_chars AS k
      FROM documents),
    r AS (
      SELECT doc_id, n_chars, ROUND(k, 8) AS kr,
             ROW_NUMBER() OVER (ORDER BY ROUND(k, 8), doc_id) AS rn
      FROM keyed)
    SELECT doc_id, n_chars, kr AS sample_key
    FROM r WHERE rn <= 20
    ORDER BY sample_key, doc_id
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each document draws an exponential key -ln(u)/w from a DETERMINISTIC
    md5-uniform u and weight w = n_chars; the 20 smallest keys are the
    sample. This is THE distributed weighted sampler — keys are
    independent per row (a narrow projection), and top-k by key is a
    mergeable reduction, so it runs in one pass at any scale and is
    reproducible across reruns/retries. Ranking uses the ROUNDED key
    (+ id tiebreak) so a last-ulp ln() divergence between engines cannot
    reorder the sample."""
    docs = _t(spark, sf_dir, "documents")
    hv = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    u = (hv + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    k = -F.log(u) / F.col("n_chars")
    keyed = docs.select("doc_id", "n_chars", F.round(k, 8).alias("kr"))
    # smallest-20 via orderBy+limit (TakeOrdered heap merge), never a
    # global row_number window over the corpus — the one-pass mergeable
    # reduction is the whole point of the A-ES sampler
    return (
        keyed.orderBy("kr", "doc_id")
        .limit(20)
        .select("doc_id", "n_chars", F.col("kr").alias("sample_key"))
        .orderBy("sample_key", "doc_id")
    )


# ---------------------------------------------------------------------------
# Semi-structured round-trips (round 2): the JSON and XML function
# surfaces pinned by encode -> decode -> compare-to-source, so the
# oracle is plain ground truth (every round-trip must be lossless).
# ---------------------------------------------------------------------------


@register(
    "json_roundtrip_shredding",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) AS n_key_match,
           COUNT(*) AS n_status_match,
           COUNT(*) AS n_price_match,
           COUNT(*) AS n_struct_match,
           COUNT(*) AS n_arraylen_ok
    FROM orders
    """,
)
def json_roundtrip_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON function surface: to_json(struct) -> get_json_object /
    from_json(schema) -> compare every field to its source column, plus
    a JSON-array length probe — six per-row checks that must all equal
    the row count (the oracle is ground truth because a correct encode/
    decode is lossless, doubles included: Spark writes shortest
    round-trippable representations). All JVM-side expressions; at scale
    this is the envelope-projection hot path (SURVEY §2.2 P1) without a
    byte of Python."""
    orders = _t(spark, sf_dir, "orders")
    j = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("s"),
                F.col("o_totalprice").alias("p"),
            )
        ).alias("js"),
        F.to_json(
            F.array(F.col("o_orderkey"), F.col("o_custkey"), F.lit(0))
        ).alias("ja"),
    )
    parsed = j.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "ja",
        F.get_json_object("js", "$.k").cast("bigint").alias("k2"),
        F.get_json_object("js", "$.s").alias("s2"),
        F.get_json_object("js", "$.p").cast("double").alias("p2"),
        F.from_json(
            "js", "struct<k: bigint, s: string, p: double>"
        ).alias("st"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("k2") == F.col("o_orderkey"), 1).otherwise(0))
        .alias("n_key_match"),
        F.sum(F.when(F.col("s2") == F.col("o_orderstatus"), 1).otherwise(0))
        .alias("n_status_match"),
        F.sum(F.when(F.col("p2") == F.col("o_totalprice"), 1).otherwise(0))
        .alias("n_price_match"),
        F.sum(
            F.when(
                (F.col("st.k") == F.col("o_orderkey"))
                & (F.col("st.s") == F.col("o_orderstatus"))
                & (F.col("st.p") == F.col("o_totalprice")),
                1,
            ).otherwise(0)
        ).alias("n_struct_match"),
        F.sum(
            F.when(
                F.expr("size(from_json(ja, 'array<bigint>'))") == 3, 1
            ).otherwise(0)
        ).alias("n_arraylen_ok"),
    )


@register(
    "xml_roundtrip_shredding",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) AS n_key_match,
           COUNT(*) AS n_name_match,
           COUNT(*) AS n_escape_ok
    FROM part
    """,
)
def xml_roundtrip_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML function surface (Spark 4 native to_xml/from_xml): encode a
    struct per part — including a column with XML-hostile characters
    (the type string contains no '<', so one is injected) — decode it
    back, and require losslessness row by row. Entity escaping
    (&lt;/&amp;) is exactly the corner hand-rolled XML splicing gets
    wrong; the round-trip pins it."""
    part = _t(spark, sf_dir, "part")
    enc = part.select(
        "p_partkey", "p_name",
        F.concat(F.col("p_type"), F.lit(" <& special>")).alias("hostile"),
    )
    x = enc.select(
        "p_partkey", "p_name", "hostile",
        F.to_xml(
            F.struct(
                F.col("p_partkey").alias("k"),
                F.col("p_name").alias("nm"),
                F.col("hostile").alias("h"),
            )
        ).alias("xs"),
    )
    back = x.select(
        "p_partkey", "p_name", "hostile",
        F.from_xml(
            "xs", "struct<k: bigint, nm: string, h: string>"
        ).alias("b"),
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("b.k") == F.col("p_partkey"), 1).otherwise(0))
        .alias("n_key_match"),
        F.sum(F.when(F.col("b.nm") == F.col("p_name"), 1).otherwise(0))
        .alias("n_name_match"),
        F.sum(F.when(F.col("b.h") == F.col("hostile"), 1).otherwise(0))
        .alias("n_escape_ok"),
    )


# ---------------------------------------------------------------------------
# SQL-syntax breadth + time-series bars + referential integrity (round 2).
# ---------------------------------------------------------------------------


@register(
    "sql_pivot_unpivot_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           COUNT(*) AS n_total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (wide) immediately UNPIVOTed back (long) and
    re-aggregated — proving the two reshaping operators are inverses and
    pinning the wide counts against the conditional-aggregation form the
    optimizer compiles PIVOT into anyway. Status values are the fixed
    F/O/P domain, so the pivot column list is static (the scalable form —
    dynamic pivot requires a driver-side distinct first)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        WITH wide AS (
          SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
          PIVOT (COUNT(*) AS n FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        ),
        long AS (
          SELECT o_orderpriority, status, n
          FROM wide UNPIVOT (n FOR status IN (f, o, p))
        )
        SELECT w.o_orderpriority,
               CAST(w.f AS BIGINT) AS n_f,
               CAST(w.o AS BIGINT) AS n_o,
               CAST(w.p AS BIGINT) AS n_p,
               (SELECT CAST(SUM(n) AS BIGINT) FROM long l
                WHERE l.o_orderpriority = w.o_orderpriority) AS n_total
        FROM wide w
        ORDER BY o_orderpriority
    """)


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
      FROM events),
    seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             epoch_us(nts) - epoch_us(ts) AS dt
      FROM seq WHERE nts IS NOT NULL)
    SELECT user_id,
           CAST(SUM(dt) AS BIGINT) AS total_micros,
           ROUND(CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE), 6)
             AS time_weighted_avg
    FROM seg
    GROUP BY user_id
    HAVING SUM(dt) > 0
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's event value — the
    irregular-sampling mean (each observation weighted by how long it
    was 'current') that a plain AVG silently gets wrong on bursty
    streams. Segment weights are integer MICROseconds, values DECIMAL, so
    the weighted sums are exact; one window + one aggregate."""
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        "ts",
        F.lead("ts").over(wseq).alias("nts"),
    ).filter(F.col("nts").isNotNull())
    seg = seq.select(
        "user_id", "v",
        # microsecond-exact: epoch() in DuckDB is fractional and
        # unix_timestamp truncates — integer microseconds agree everywhere
        F.expr("unix_micros(nts) - unix_micros(ts)").alias("dt"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("dt").cast("bigint").alias("total_micros"),
            F.round(
                F.sum(F.col("v") * F.col("dt")).cast("double")
                / F.sum("dt").cast("double"),
                6,
            ).alias("time_weighted_avg"),
        )
        .filter(F.col("total_micros") > 0)
        .orderBy("user_id")
    )


@register(
    "events_ohlc_hourly",
    oracle="""
    WITH v AS (
      SELECT date_trunc('hour', ts) AS bar, value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events WHERE event_type = 'purchase')
    SELECT bar,
           COUNT(*) AS n,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close
    FROM v
    GROUP BY bar
    ORDER BY bar
    LIMIT 100
    """,
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (hourly) over purchase values: open/close
    by deterministic (ts, event_id) order, high/low as plain min/max —
    the financial-rollup shape. One window pass tags the first and last
    row per bar; values pass through untouched (no float arithmetic), so
    both engines agree exactly."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bar = F.date_trunc("hour", F.col("ts")).alias("bar")
    w_open = Window.partitionBy(F.date_trunc("hour", F.col("ts"))).orderBy(
        "ts", "event_id"
    )
    w_close = Window.partitionBy(F.date_trunc("hour", F.col("ts"))).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    v = ev.select(
        bar, "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return (
        v.groupBy("bar")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        )
        .orderBy("bar")
        .limit(100)
    )


@register("dq_referential_integrity", oracle=_ref_integrity_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: for
    every foreign key, the child row count and the orphan count (child
    keys with no parent) via LEFT JOIN + null-parent counting. Parents
    are dimension-sized and broadcast; each check is one pass over its
    child table — the standard post-load DQ gate, here over 7 FKs in one
    result frame."""
    outs = []
    for name, child, fk_col, parent, pk in _REF_FKS:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(F.col(pk))
        joined = c.select(F.col(fk_col)).join(
            F.broadcast(p), p[pk] == c[fk_col], "left"
        )
        outs.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            ).select(F.lit(name).alias("fk"), "n_child_rows", "n_orphans")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fk")


@register(
    "incremental_agg_maintenance",
    oracle=f"""
    WITH split AS (
      SELECT o_orderstatus,
             CAST(o_totalprice AS {_DEC}) AS x,
             CASE WHEN YEAR(o_orderdate) >= 2000 THEN 1 ELSE 0 END AS is_delta
      FROM orders),
    base AS (
      SELECT o_orderstatus, COUNT(*) AS n, SUM(x) AS s
      FROM split WHERE is_delta = 0 GROUP BY o_orderstatus),
    delta AS (
      SELECT o_orderstatus, COUNT(*) AS n, SUM(x) AS s
      FROM split WHERE is_delta = 1 GROUP BY o_orderstatus),
    merged AS (
      SELECT o_orderstatus, SUM(n) AS n, SUM(s) AS s
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY o_orderstatus),
    direct AS (
      SELECT o_orderstatus, COUNT(*) AS n, SUM(x) AS s
      FROM split GROUP BY o_orderstatus)
    SELECT m.o_orderstatus,
           CAST(m.n AS BIGINT) AS n_orders,
           CAST(ROUND(m.s, 2) AS DOUBLE) AS revenue,
           CASE WHEN m.n = d.n AND m.s = d.s THEN 1 ELSE 0 END
             AS matches_direct
    FROM merged m JOIN direct d ON d.o_orderstatus = m.o_orderstatus
    ORDER BY m.o_orderstatus
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance in batch form: a pre-2000 base
    aggregate plus a post-2000 delta aggregate merged by ADDITION must
    equal the direct full aggregate — exactly, because the partial
    states (count, DECIMAL sum) are the mergeable algebra foreachBatch
    upserts rely on. The matches_direct flag is computed in-query and
    the oracle re-derives everything; this is the correctness core of
    every materialized-view / continuous-aggregate implementation."""
    orders = _t(spark, sf_dir, "orders")
    split = orders.select(
        "o_orderstatus",
        F.col("o_totalprice").cast(_DEC).alias("x"),
        F.when(F.year("o_orderdate") >= 2000, 1).otherwise(0).alias("is_delta"),
    )

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
        )

    base = agg_of(split.filter(F.col("is_delta") == 0))
    delta = agg_of(split.filter(F.col("is_delta") == 1))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    direct = agg_of(split).select(
        F.col("o_orderstatus").alias("st2"),
        F.col("n").alias("dn"),
        F.col("s").alias("ds"),
    )
    return (
        merged.join(F.broadcast(direct), merged.o_orderstatus == direct.st2)
        .select(
            "o_orderstatus",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("s"), 2).cast("double").alias("revenue"),
            F.when(
                (F.col("n") == F.col("dn")) & (F.col("s") == F.col("ds")), 1
            ).otherwise(0).alias("matches_direct"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "orders_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1),
    win AS (
      SELECT d, rev,
             SUM(rev) OVER (ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
             COUNT(*) OVER (ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      FROM daily),
    detr AS (
      SELECT d, isodow(d) - 1 AS dow, 7 * rev - s7 AS detr7
      FROM win WHERE c7 = 7),
    grp AS (
      SELECT d, dow, detr7,
             SUM(detr7) OVER (PARTITION BY dow) AS ssum,
             COUNT(*) OVER (PARTITION BY dow) AS n
      FROM detr)
    SELECT CAST(dow AS INT) AS weekday,
           CAST(MAX(n) AS BIGINT) AS n_days,
           ROUND(CAST(MAX(ssum) AS DOUBLE) / (7 * MAX(n)), 4) AS seasonal,
           ROUND(CAST(SUM(ABS(n * detr7 - ssum)) AS DOUBLE)
                 / (7.0 * MAX(n) * MAX(n)), 4) AS mad_resid
    FROM grp GROUP BY dow ORDER BY weekday
    """,
)
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily revenue series:
    centered 7-observation moving-average trend, day-of-week seasonal
    component from the detrended series, and the mean absolute residual
    per weekday (how much weekly seasonality fails to explain). All
    intermediate arithmetic is DECIMAL scaled by 7 (detr7 = 7*rev - sum7
    is 7x the detrended value, n*detr7 - ssum is 7n x the residual) so
    no division happens until the final rounded doubles — bit-exact in
    both engines. One scan, two windows, one aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    win = daily.select(
        "d",
        "rev",
        F.sum("rev").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    detr = win.filter(F.col("c7") == 7).select(
        "d",
        F.weekday("d").alias("dow"),
        (F.lit(7) * F.col("rev") - F.col("s7")).alias("detr7"),
    )
    wd = Window.partitionBy("dow")
    grp = detr.select(
        "dow",
        "detr7",
        F.sum("detr7").over(wd).alias("ssum"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    return (
        grp.groupBy("dow")
        .agg(
            F.max("n").alias("mn"),
            F.max("ssum").alias("mssum"),
            F.sum(F.abs(F.col("n") * F.col("detr7") - F.col("ssum"))).alias(
                "sabs"
            ),
        )
        .select(
            F.col("dow").cast("int").alias("weekday"),
            F.col("mn").cast("bigint").alias("n_days"),
            F.round(
                F.col("mssum").cast("double") / (F.lit(7) * F.col("mn")), 4
            ).alias("seasonal"),
            F.round(
                F.col("sabs").cast("double")
                / (F.lit(7.0) * F.col("mn") * F.col("mn")),
                4,
            ).alias("mad_resid"),
        )
        .orderBy("weekday")
    )


@register(
    "union_by_name_breadth",
    oracle="""
    WITH u AS (
      SELECT * FROM (
        SELECT o_orderkey AS k, 'orders' AS src,
               CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
               o_orderpriority AS priority
        FROM orders
        UNION ALL BY NAME
        SELECT l_orderkey AS k,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS amount,
               'lineitem' AS src,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem))
    SELECT src,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN priority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_priority,
           CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_qty,
           CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS total_amount
    FROM u GROUP BY src ORDER BY src
    """,
)
def union_by_name_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two relations with different column ORDER
    and different column SETS combined by column NAME (Spark
    ``unionByName(allowMissingColumns=True)``; DuckDB ``UNION ALL BY
    NAME``), missing columns null-padded — the operator that survives a
    source adding a field mid-crawl. The aggregate proves position-based
    union would have been wrong (src/amount are swapped between the two
    branches) and counts the padding nulls on each side."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.lit("orders").alias("src"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("amount"),
        F.lit("lineitem").alias("src"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    u = o.unionByName(li, allowMissingColumns=True)
    return (
        u.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("priority").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_priority"),
            F.sum(F.when(F.col("qty").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_qty"),
            F.round(F.sum("amount"), 2).cast("double").alias("total_amount"),
        )
        .orderBy("src")
    )


@register("values_inline_dim_join", oracle=_VALUES_DIM_SQL)
def values_inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES dimension table (the literal-CTE lookup every ad-hoc
    analysis starts with) left-joined to the fact — ONE SQL string runs
    unchanged on both engines, including the CTE column-alias form
    ``dim(priority, tier) AS (VALUES ...)``. Catalyst folds the 5-row
    VALUES relation into a broadcast hash join build side."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_VALUES_DIM_SQL)


@register(
    "consistent_join_sample",
    oracle="""
    WITH sc AS (
      SELECT c_custkey FROM customer
      WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':smp'), 1, 15)
                 AS BIGINT) % 10 = 0),
    so AS (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o JOIN sc ON sc.c_custkey = o.o_custkey),
    sl AS (
      SELECT l.l_extendedprice FROM lineitem l
      JOIN so ON so.o_orderkey = l.l_orderkey)
    SELECT (SELECT COUNT(*) FROM sc) AS n_customers_sampled,
           (SELECT COUNT(*) FROM so) AS n_orders_carried,
           (SELECT COUNT(*) FROM sl) AS n_lineitems_carried,
           CAST(ROUND((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       FROM so) * 10, 2) AS DOUBLE) AS est_total_revenue,
           CAST(ROUND((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       FROM orders), 2) AS DOUBLE) AS true_total_revenue
    """,
)
def consistent_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-consistent sampling — the only correct way to sample a star
    schema: hash-sample the ENTITY (10% of customers by salted md5),
    then carry every dependent order and line item of the sampled
    entities, so joins inside the sample are complete and unbiased
    (independent per-table sampling would destroy the join structure).
    The Horvitz-Thompson scale-up (x10) sits next to the true total for
    the bias check. Filters are semi-join pushdowns on the key — at
    100 TB the sample predicate prunes before any fact shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sc = cust.filter(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":smp"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    ).select("c_custkey")
    so = orders.join(
        F.broadcast(sc), orders.o_custkey == sc.c_custkey
    ).select("o_orderkey", "o_totalprice")
    so = op_cache.track(so.cache())
    sl = li.join(
        so.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).select("l_extendedprice")
    nc = sc.agg(F.count(F.lit(1)).alias("n_customers_sampled"))
    no = so.agg(F.count(F.lit(1)).alias("n_orders_carried"))
    nl = sl.agg(F.count(F.lit(1)).alias("n_lineitems_carried"))
    est = so.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 10, 2
        )
        .cast("double")
        .alias("est_total_revenue")
    )
    true_rev = orders.agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("true_total_revenue")
    )
    return (
        nc.crossJoin(F.broadcast(no))
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(true_rev))
    )


@register("bom_quantity_rollup", oracle=_BOM_SQL_BODY.format(part="part"))
def bom_quantity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion with MULTIPLIED quantities along the
    path (the manufacturing rollup a plain transitive closure can't do):
    an implicit decimal-tree hierarchy (assembly = partkey/10) where
    each level contributes a per-edge quantity, and effective quantity
    is the PRODUCT down the path — integer products, bounded depth 3,
    aggregated per (assembly, depth). One SQL string on both engines;
    Spark 4's recursive CTE plans each expansion step as its own join."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_bom")
    return spark.sql(_BOM_SQL_BODY.format(part="part_bom"))


@register(
    "null_safe_join_eqnullsafe",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                  ELSE o_orderpriority END AS pr,
             o_totalprice
      FROM orders),
    d AS (
      SELECT * FROM (VALUES
        ('1-URGENT', 100), ('2-HIGH', 80), ('3-MEDIUM', 50),
        ('4-NOT SPECIFIED', 20), (NULL, 0)) t(pr, weight))
    SELECT COALESCE(o.pr, '<null>') AS priority,
           d.weight,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM o JOIN d ON o.pr IS NOT DISTINCT FROM d.pr
    GROUP BY COALESCE(o.pr, '<null>'), d.weight
    ORDER BY priority
    """,
)
def null_safe_join_eqnullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark `<=>` / ANSI IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of vanishing — the semantics a
    dimension lookup needs when 'unknown' is itself a dimension row. A
    plain equi-join would silently drop every NULL-priority order; the
    weight-0 dimension row catching them is the proof it didn't."""
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "5-LOW", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
        "o_totalprice",
    )
    d = spark.createDataFrame(
        [
            ("1-URGENT", 100),
            ("2-HIGH", 80),
            ("3-MEDIUM", 50),
            ("4-NOT SPECIFIED", 20),
            (None, 0),
        ],
        "dpr string, weight int",
    )
    return (
        o.join(F.broadcast(d), o.pr.eqNullSafe(d.dpr))
        .groupBy(
            F.coalesce(F.col("pr"), F.lit("<null>")).alias("priority"),
            "weight",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("priority")
    )


@register("limit_offset_pagination", oracle=_PAGINATION_SQL)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyset-stable pagination: page 3 of the
    revenue-ordered orders via LIMIT/OFFSET over a total order (unique
    tiebreak column — without it OFFSET pagination is nondeterministic
    and pages can overlap). One SQL string on both engines."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_PAGINATION_SQL)


@register(
    "hierarchy_share_rollup",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(18,2)) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name)
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE) /
                 CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS share_of_region,
           ROUND(CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE) /
                 CAST(SUM(rev) OVER () AS DOUBLE), 6)
             AS region_share_of_total
    FROM rev ORDER BY region, nation
    """,
)
def hierarchy_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels in ONE pass: nation
    revenue, its share within the region, and the region's share of the
    grand total — windows over the aggregate (partition-by-region and
    global), never a second scan or self-join. DECIMAL sums keep every
    numerator/denominator exact until the final rounded divisions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(wr).cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.sum("rev").over(wr).cast("double")
            / F.sum("rev").over(wg).cast("double"),
            6,
        ).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "dynamic_pivot_top_brands",
    oracle="""
    WITH top5 AS (
      SELECT p_brand FROM (
        SELECT p.p_brand, ROW_NUMBER() OVER (
          ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) DESC,
                   p.p_brand) AS rk
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand) WHERE rk <= 5),
    base AS (
      SELECT l.l_returnflag AS rf, p.p_brand,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS px
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN (SELECT p_brand FROM top5))
    SELECT rf AS returnflag, p_brand AS brand,
           CAST(ROUND(SUM(px), 2) AS DOUBLE) AS revenue
    FROM base GROUP BY rf, p_brand
    ORDER BY returnflag, brand
    """,
)
def dynamic_pivot_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot: the pivot columns are data-derived (top-5 brands by
    revenue, collected in a driver round-trip exactly like production
    dynamic-pivot code), then groupBy().pivot(values=top5) aggregates
    with Spark's two-phase pivot. The result unpivots back to long form
    for the engine-neutral value check — proving the pivot lost
    nothing."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    )
    wtop = Window.orderBy(F.desc("srev"), "p_brand")
    top5 = [
        r["p_brand"]
        for r in joined.groupBy("p_brand")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("srev"))
        .withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 5)
        .select("p_brand")
        .collect()
    ]
    pivoted = (
        joined.filter(F.col("p_brand").isin(top5))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("p_brand", top5)
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
        )
    )
    stack_expr = ", ".join(f"'{b}', `{b}`" for b in sorted(top5))
    return (
        pivoted.selectExpr(
            "returnflag",
            f"stack({len(top5)}, {stack_expr}) AS (brand, revenue)",
        )
        .filter(F.col("revenue").isNotNull())
        .orderBy("returnflag", "brand")
    )


__all__ = [
    'q1_pricing_summary',
    'q3_shipping_priority',
    'q5_local_supplier_volume',
    'join_semi',
    'join_anti',
    'join_outer',
    'agg_rollup',
    'agg_cube',
    'set_ops',
    'latest_event_per_user',
    'events_json_extraction',
    'events_tumbling_window',
    'pivot_event_counts',
    'agg_stats_per_status',
    'percentiles_order_price',
    'count_distinct_users',
    'orders_per_month',
    'string_functions_parts',
    'grouping_sets_orders',
    'q17_correlated_subquery',
    'q7_volume_shipping',
    'null_ordering_last_purchase',
    'q10_returned_items',
    'q18_large_volume_customers',
    'events_variant_shredding',
    'profile_lineitem',
    'q13_customer_distribution',
    'q19_disjunctive_predicates',
    'q22_global_sales_opportunity',
    'q15_top_supplier',
    'q21_waiting_suppliers',
    'events_sliding_window',
    'full_outer_nation_reconciliation',
    'skew_salted_event_counts',
    'events_date_dimensions',
    'orders_date_arithmetic',
    'array_agg_user_event_types',
    'agg_regression_lineitem',
    'sql_cte_top_customers',
    'ntile_customer_spend_deciles',
    'deterministic_sample_orders',
    'events_funnel_view_click_purchase',
    'events_cohort_retention',
    'array_set_ops_user_event_types',
    'lateral_top_order_per_customer',
    'bucket_join_spend_quartiles',
    'listagg_nations_per_region',
    'orders_mom_revenue_growth',
    'q2_min_cost_supplier',
    'q9_product_type_profit',
    'q11_important_inventory',
    'q16_supplier_part_count',
    'q20_excess_shippers',
    'events_state_islands',
    'events_ewma_per_user',
    'stratified_sample_orders',
    'set_ops_multiset_event_types',
    'argmax_customer_per_nation',
    'lineitem_unpivot_measures',
    'ansi_safe_arithmetic',
    'null_safe_dim_lookup',
    'rollup_with_grouping_ids',
    'recursive_cte_supplier_chain',
    'bitwise_agg_line_flags',
    'events_anomaly_zscore',
    'events_interval_overlap',
    'orders_benford_first_digit',
    'orders_revenue_max_drawdown',
    'null_semantics_breadth',
    'hll_distinct_users',
    'bloom_filter_customers',
    'events_range_interval_window',
    'agg_filter_clause_breadth',
    'orders_dow_seasonality',
    'events_burst_minutes',
    'customer_rfm_segments',
    'events_slo_burn_rate',
    'supplier_concentration_hhi',
    'nation_trade_balance',
    'orders_gini_coefficient',
    'orders_daily_dispersion',
    'lineitem_discount_tax_crosstab',
    'customer_abc_classes',
    'events_winsorized_stats',
    'lineitem_quantity_mode',
    'region_revenue_share',
    'events_hourly_profile',
    'orders_monthly_status_mix',
    'events_value_boxplot',
    'lineitem_monthly_return_rate',
    'events_rollup_multi_granularity',
    'orders_holt_linear_trend',
    'orders_lttb_downsample',
    'events_linear_interpolation',
    'events_cusum_change_detection',
    'events_hourly_autocorrelation',
    'events_fano_burstiness',
    'join_null_aware_anti',
    'bucketed_colocated_join',
    'sql_udf_breadth',
    'events_ab_test_zscore',
    'catalog_profile_all_tables',
    'pandas_api_monthly_rollup',
    'weighted_sample_aes',
    'json_roundtrip_shredding',
    'xml_roundtrip_shredding',
    'sql_pivot_unpivot_roundtrip',
    'events_time_weighted_avg',
    'events_ohlc_hourly',
    'dq_referential_integrity',
    'incremental_agg_maintenance',
    'orders_seasonal_decomposition',
    'union_by_name_breadth',
    'values_inline_dim_join',
    'consistent_join_sample',
    'bom_quantity_rollup',
    'null_safe_join_eqnullsafe',
    'limit_offset_pagination',
    'hierarchy_share_rollup',
    'dynamic_pivot_top_brands',
]
