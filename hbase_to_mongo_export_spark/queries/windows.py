"""windows queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) t
    WHERE rk <= 3 ORDER BY o_custkey, rk
    """,
)
def window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 3)
        .orderBy("o_custkey", "rk")
    )


@register(
    "window_running_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC}))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)).over(w), 2).cast("double").alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_lag_lead_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS days_since_prev
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date
      FROM orders) t
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("bigint").alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gap detection — lag + conditional sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > 30 * 60),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("n_sessions"))
        .orderBy("user_id")
    )


@register(
    "asof_join_purchase_before_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    ORDER BY c.event_id
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's most recent purchase at or
    before it. Union+window formulation (operators.asof) — one shuffle."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_mod.asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], suffix="_p",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_p").alias("purchase_ts"),
        F.col("value_p").alias("purchase_value"),
    ).orderBy("event_id")


@register(
    "range_join_events_within_hour",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval join, equi-blocked on user_id (hash join + filter,
    no cross product)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof_mod.range_join_within(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        lower_seconds=0, upper_seconds=3600,
    )
    return out.select(
        F.col("l.event_id").alias("click_id"), F.col("r.event_id").alias("purchase_id")
    ).orderBy("click_id", "purchase_id")


@register(
    "window_function_breadth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS top_price,
           CAST(LEAD(o_orderkey) OVER w AS BIGINT) AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def window_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / first_value / lead in one pass."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.first("o_totalprice").over(w), 2).alias("top_price"),
        F.lead("o_orderkey").over(w).cast("bigint").alias("next_orderkey"),
    ).orderBy("o_custkey", "rnk", "o_orderkey")


# ---------------------------------------------------------------------------
# Window frames + calendar arithmetic widening
# ---------------------------------------------------------------------------


@register(
    "window_frames_breadth",
    oracle="""
    SELECT event_id, user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER
                 (PARTITION BY user_id ORDER BY epoch_ms(ts)
                  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS sum_1h,
           ROUND(PERCENT_RANK() OVER wv, 6) AS pr,
           ROUND(CUME_DIST() OVER wv, 6) AS cd
    FROM events
    WINDOW wv AS (PARTITION BY user_id ORDER BY value, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_frames_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time (trailing 1-hour sum) plus
    percent_rank/cume_dist. The trailing sum runs on DECIMAL so both
    engines accumulate exactly regardless of frame iteration order; the
    frame bound is epoch-millis RANGE, the sliding-window idiom that
    needs no self-join."""
    ev = _t(spark, sf_dir, "events")
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-3600000, 0)
    )
    w_rank = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w_range), 4)
        .cast("double")
        .alias("sum_1h"),
        F.round(F.percent_rank().over(w_rank), 6).alias("pr"),
        F.round(F.cume_dist().over(w_rank), 6).alias("cd"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Densification, bucketing, sampling, gap-fill (SURVEY §2.8 breadth +
# training-pipeline reproducibility ops)
# ---------------------------------------------------------------------------


@register(
    "orders_month_densify",
    oracle="""
    WITH b AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
        FROM orders
    ), cal AS (
        SELECT CAST(m AS DATE) AS month
        FROM b, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 MONTH)) AS t(m)
    ), mo AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders WHERE o_totalprice > 450000 GROUP BY 1
    )
    SELECT cal.month, COALESCE(mo.n_orders, 0) AS n_orders,
           CAST(ROUND(COALESCE(mo.rev, 0), 2) AS DOUBLE) AS revenue
    FROM cal LEFT JOIN mo USING (month)
    ORDER BY cal.month
    """,
)
def orders_month_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (gap-filling): generate every month between
    the data's min/max order date with ``sequence`` + ``explode`` and
    left-join the (sparse) high-value monthly rollup, zero-filling months
    with no qualifying orders. Scale shape: the fact table is reduced by a
    map-side-combinable groupBy FIRST; the calendar axis is O(months) rows,
    so the final left join is a broadcast of two tiny dimensions — the 100
    TB scan happens exactly once."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.filter(F.col("o_totalprice") > 450000)
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"),
        )
    )
    cal = (
        orders.agg(
            F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
            F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 month"))
            ).alias("month")
        )
    )
    return (
        cal.join(monthly, "month", "left")
        .select(
            "month",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("rev"), F.lit(0)), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


@register(
    "events_locf_gap_fill",
    oracle="""
    WITH c AS (
        SELECT event_type,
               LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase_value
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(last_purchase_value) AS n_with_carry,
           ROUND(SUM(last_purchase_value), 4) AS sum_carried
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def events_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: every event sees the most recent
    purchase value of its user (NULL before the first purchase) via
    ``last(..., ignorenulls=True)`` over a running ROWS frame with a
    deterministic (ts, event_id) order. The window partitions by user_id —
    one shuffle on the natural key, state bounded per user, no global
    sort; the standard time-series imputation shape."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("last_purchase_value").alias("n_with_carry"),
            F.round(F.sum("last_purchase_value"), 4).alias("sum_carried"),
        )
        .orderBy("event_type")
    )


@register(
    "events_rolling_7day_distinct_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
        SELECT DISTINCT day FROM ud
    )
    SELECT d.day, COUNT(DISTINCT u.user_id) AS n_users_7d
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
)
def events_rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users — COUNT(DISTINCT) over a sliding range,
    which no window frame supports directly. The stream collapses to one
    row per (user, day) FIRST (the only fact-sized shuffle), then a tiny
    broadcast day-spine range-joins the deduped set; each day re-counts
    distinct users over its 7-day slice. At 100 TB the user-day dedup is
    the working set (~users x days), orders of magnitude smaller than
    events."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = ud.select("day").distinct()
    d = days.alias("d")
    u = ud.alias("u")
    return (
        d.join(
            u,
            (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("n_users_7d"))
        .orderBy("day")
    )


@register(
    "events_topk_per_window",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, event_type,
             COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, n, sum_value, rk FROM (
      SELECT day, event_type, n, sum_value,
             row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rk
      FROM w) t
    WHERE rk <= 2
    ORDER BY day, rk
    """,
)
def events_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k dimension values per tumbling time window (the dashboard
    staple): a day-bucket aggregate followed by a ranking window over the
    already-reduced (day, type) table — the rank input is |days|x|types|,
    so the sort is negligible no matter how large the raw stream. The
    window-start day bucket matches DuckDB's time_bucket exactly."""
    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", "1 day").start.alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .orderBy("day", "rk")
    )


@register(
    "events_rolling_corr_click_purchase",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1),
    roll AS (
      SELECT day, clicks, purchases,
             COUNT(*) OVER w AS n,
             SUM(clicks) OVER w AS sx, SUM(purchases) OVER w AS sy,
             SUM(clicks * purchases) OVER w AS sxy,
             SUM(clicks * clicks) OVER w AS sxx,
             SUM(purchases * purchases) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day, clicks, purchases,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                                CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS corr7
    FROM roll ORDER BY day
    """,
)
def events_rolling_corr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between daily click and purchase
    volumes, computed from exact integer moment sums (n, Σx, Σy, Σxy,
    Σx², Σy²) with one final double division — bit-stable across
    partitionings, unlike a floating corr() fold. The single global
    window is fine at daily grain (one row per day); a per-entity variant
    would add partitionBy and keep state bounded."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "clicks"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("purchases"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("clicks").over(w)
    sy = F.sum("purchases").over(w)
    sxy = F.sum(F.col("clicks") * F.col("purchases")).over(w)
    sxx = F.sum(F.col("clicks") * F.col("clicks")).over(w)
    syy = F.sum(F.col("purchases") * F.col("purchases")).over(w)
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.when(
        (varx > 0) & (vary > 0),
        F.round(
            (n * sxy - sx * sy).cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ),
    )
    return daily.select(
        "day", "clicks", "purchases", corr.alias("corr7")
    ).orderBy("day")


@register(
    "spearman_daily_rank_correlation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS {_DEC})) AS rev
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY n_orders, day) AS rx,
             ROW_NUMBER() OVER (ORDER BY rev, day) AS ry
      FROM daily),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(rx * ry) AS sxy, SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                 (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             AS spearman_rho
    FROM s
    """,
)
def spearman_daily_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order count and daily
    revenue — the robust monotonic-association measure. Ranks are
    ROW_NUMBERs with a deterministic day tiebreak, so every sum in the
    Pearson-on-ranks formula is an exact integer; floating point appears
    only in the final single expression, ordered identically on both
    engines."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"),
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("n_orders", "day")).alias("rx"),
        F.row_number().over(Window.orderBy("rev", "day")).alias("ry"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "topk_per_group_agg_form",
    oracle="""
    SELECT o_orderpriority, o_orderkey, rnk
    FROM (
      SELECT o_orderpriority, o_orderkey,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
      FROM orders)
    WHERE rnk <= 3
    ORDER BY o_orderpriority, rnk
    """,
)
def topk_per_group_agg_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group in AGGREGATE form: slice(sort_array(collect of
    (price, key) structs)) — one hash aggregate with map-side partial
    top-k, NO window and NO per-group sort of the full partition. The
    oracle is the window-function form, pinning that the two
    formulations agree row for row (deterministic tiebreak on key). For
    small k over high-cardinality groups this is the plan you want at
    100 TB: the window form sorts every group's full row set; this form
    carries at most k structs per group through the shuffle.

    (collect_list is bounded here by the slice that follows; a
    production operator would cap the partial aggregation explicitly —
    Spark's own partial-agg top-k does this once k << group size.)"""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "slice(array_sort(collect_list(named_struct("
            "'negp', -o_totalprice, 'k', o_orderkey))), 1, 3)"
        ).alias("top3")
    )
    ex = agg.select(
        "o_orderpriority", F.posexplode("top3").alias("i0", "s")
    )
    return ex.select(
        "o_orderpriority",
        F.col("s.k").alias("o_orderkey"),
        (F.col("i0") + 1).cast("int").alias("rnk"),
    ).orderBy("o_orderpriority", "rnk")


@register(
    "cogrouped_asof_user_merge",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, event_id AS click_id, ts
      FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.user_id, p.purchase_id, c.click_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts DESC, c.click_id DESC) AS rn,
             COUNT(c.click_id) OVER (PARTITION BY p.purchase_id)
               AS n_prior
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT user_id, purchase_id, click_id AS last_click_id,
           CAST(n_prior AS BIGINT) AS n_prior_clicks
    FROM j WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def cogrouped_asof_user_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped grouped-map surface (groupBy().cogroup()
    .applyInPandas) — the one Python-UDF shape the registry didn't yet
    pin: purchases and clicks shuffle on user_id ONCE each and align
    per key in pandas, where a vectorized searchsorted computes each
    purchase's most recent prior click and prior-click count. Same
    semantics as the pure-SQL as-of join, so the oracle doubles as a
    cross-check between the built-in and UDF paths."""
    from ..operators.grouped import cogrouped_asof_merge

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    return cogrouped_asof_merge(p, c).orderBy("purchase_id")


@register(
    "window_median_trailing",
    oracle="""
    SELECT user_id, event_id,
           ROUND(MEDIAN(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_median_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An exact MOVING MEDIAN — the holistic aggregate over a sliding
    frame that DuckDB runs natively (MEDIAN ... OVER ROWS) but Spark
    refuses ([INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC]); the engine
    supplies it by collecting the 5-row frame into a sorted array and
    selecting the middle element(s) — bounded state (frame width), and
    exact selection/two-element-average semantics identical to DuckDB's."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    med = F.expr(
        "CASE WHEN size(arr) % 2 = 1 "
        "THEN element_at(arr, cast((size(arr) + 1) div 2 as int)) "
        "ELSE (element_at(arr, cast(size(arr) div 2 as int)) "
        "      + element_at(arr, cast(size(arr) div 2 + 1 as int))) / 2 END"
    )
    return (
        ev.select("user_id", "event_id", arr.alias("arr"))
        .select("user_id", "event_id", F.round(med, 6).alias("med5"))
        .orderBy("user_id", "event_id")
    )


@register(
    "asof_join_native_semantics",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, ts AS cts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts)
    SELECT p.user_id, p.purchase_id,
           c.click_id AS last_click_id, c.cts AS last_click_ts
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND c.cts <= p.ts
    ORDER BY p.purchase_id
    """,
)
def asof_join_native_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's union-sort as-of join pinned against DuckDB's NATIVE
    ASOF LEFT JOIN — a cross-engine semantics check of the whole
    contract: inclusive boundary (a click exactly at purchase time
    matches), per-key isolation, and null for unpreceded rows. The right
    side is pre-deduped to one row per (user, ts) so the 'which tied
    row' question is closed before the join. The union-sort formulation
    is one shuffle on (key, time) — the merge-join shape, no windowed
    state per probe."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_mod.asof_join(
        p, c, key="user_id", left_ts="ts", right_ts="cts",
        value_cols=["click_id"], inclusive=True,
    )
    return out.select(
        "user_id",
        "purchase_id",
        F.col("click_id_right").alias("last_click_id"),
        F.col("cts_right").alias("last_click_ts"),
    ).orderBy("purchase_id")


@register("hll_sliding_window_distinct", oracle=_HLL_SLIDING_ORACLE)
def hll_sliding_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE over a sliding window — the operation that makes
    rolling COUNT(DISTINCT) feasible at 100 TB: per-day HyperLogLog
    registers (m=64, exact-integer max-rank state) merge over each
    trailing 7-day window by per-register MAX, the estimator (with
    linear-counting correction) runs per day, and the exact rolling
    distinct sits alongside for the measured error. Exact distinct costs
    a 7x self-join blowup of (day,user) pairs; the sketch path carries
    64 integers per day — the whole point, demonstrated with both
    answers in one result."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_hll")
    return spark.sql(_HLL_SLIDING_SPARK)


@register(
    "calendar_edge_semantics",
    oracle="""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS od FROM orders),
    e AS (
      SELECT od,
             CAST(od + INTERVAL 1 MONTH AS DATE) AS plus_month,
             CAST(last_day(od) AS DATE) AS month_end,
             CASE WHEN od = last_day(od) THEN 1 ELSE 0 END AS is_month_end
      FROM d)
    SELECT plus_month AS month_later,
           COUNT(*) AS n_orders,
           CAST(SUM(is_month_end) AS BIGINT) AS n_from_month_end,
           CAST(MIN(od) AS DATE) AS min_src_day,
           CAST(MAX(od) AS DATE) AS max_src_day
    FROM e GROUP BY plus_month ORDER BY plus_month
    """,
)
def calendar_edge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-arithmetic EDGE semantics pinned across engines: adding one
    month to a month-end date CLAMPS (Jan 31 -> Feb 29 in a leap year,
    both engines verified identical), last_day() agrees, and grouping by
    the shifted date exposes any off-by-one — several source days
    collapse onto each clamped month-end, which the min/max source-day
    columns make visible."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("od"))
    e = d.select(
        "od",
        F.add_months("od", 1).alias("plus_month"),
        F.last_day("od").alias("month_end"),
        F.when(F.col("od") == F.last_day("od"), 1).otherwise(0).alias(
            "is_month_end"
        ),
    )
    return (
        e.groupBy(F.col("plus_month").alias("month_later"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("is_month_end").cast("bigint").alias("n_from_month_end"),
            F.min("od").alias("min_src_day"),
            F.max("od").alias("max_src_day"),
        )
        .orderBy("month_later")
    )


@register(
    "textrank_keywords",
    oracle=_pagerank_oracle(
        iterations=3, edges_sql=_TEXTRANK_EDGES, final_sql=_TEXTRANK_FINAL
    ),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the word-adjacency
    graph (distinct canonical adjacent-word pairs across the corpus),
    three exact scaled-integer rounds, top-20 words — the unsupervised
    keyword ranker, sharing the verified Pregel machinery and its
    round-unrolled oracle via the parameterized builder."""
    from ..operators import graph as graph_mod

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.split(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
        ).alias("words")
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2), "
                "i -> struct(words[i] AS w1, words[i + 1] AS w2))"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("src"), F.col("p.w2").alias("dst"))
    edges = (
        pairs.filter(F.col("src") < F.col("dst")).distinct()
    )
    pr = graph_mod.pagerank(edges, iterations=3)
    w = Window.orderBy(F.desc("rank_scaled"), "node")
    return (
        pr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(F.col("node").alias("word"), "rank_scaled")
        .orderBy(F.desc("rank_scaled"), "word")
    )


@register(
    "running_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events
      GROUP BY user_id),
    daily_new AS (
      SELECT first_day AS d, COUNT(*) AS n_new FROM firsts GROUP BY first_day),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT CAST(days.d AS TIMESTAMP) AS day,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_users,
           CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY days.d) AS BIGINT)
             AS cumulative_users
    FROM days LEFT JOIN daily_new ON daily_new.d = days.d
    ORDER BY day
    """,
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users (the acquisition curve): running
    COUNT(DISTINCT) made scalable by the first-occurrence trick — each
    user counts only on their first-seen day, so the curve is a plain
    running SUM over daily new-user counts. No per-day distinct state,
    no quadratic window; the exact pattern that replaces 'cumulative
    distinct' at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    daily_new = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    wc = Window.orderBy("d")
    return (
        days.join(daily_new, "d", "left")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new_users"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(wc)
            .cast("bigint")
            .alias("cumulative_users"),
        )
        .orderBy("day")
    )


@register("named_window_clause", oracle=_NAMED_WINDOW_SQL)
def named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named WINDOW clause — one window specification shared by
    multiple functions (plus a framed sibling for the running sum —
    Spark doesn't parse the in-place window-extension form), the
    SQL-surface feature that keeps analytic queries DRY. One
    SQL string runs unchanged on both engines; the running DECIMAL sum
    keeps the frame results exact."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_NAMED_WINDOW_SQL)


@register(
    "logrank_survival_test",
    oracle="""
    WITH horizon AS (
      SELECT MAX(ts) AS tmax FROM events),
    first_p AS (
      SELECT user_id, MIN(ts) AS pts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    first_seen AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    subjects AS (
      SELECT fs.user_id, fs.user_id % 2 AS arm,
             CASE WHEN fp.pts IS NOT NULL THEN 1 ELSE 0 END AS event,
             CASE WHEN fp.pts IS NOT NULL
                  THEN epoch_ms(fp.pts) - epoch_ms(fs.t0)
                  ELSE epoch_ms(h.tmax) - epoch_ms(fs.t0) END AS t
      FROM first_seen fs
      LEFT JOIN first_p fp ON fp.user_id = fs.user_id, horizon h),
    etimes AS (
      SELECT DISTINCT t FROM subjects WHERE event = 1),
    at_risk AS (
      SELECT e.t,
             SUM(CASE WHEN s.t >= e.t AND s.arm = 1 THEN 1 ELSE 0 END)
               AS n1,
             SUM(CASE WHEN s.t >= e.t THEN 1 ELSE 0 END) AS n,
             SUM(CASE WHEN s.t = e.t AND s.event = 1 AND s.arm = 1
                      THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN s.t = e.t AND s.event = 1 THEN 1 ELSE 0 END)
               AS d
      FROM etimes e CROSS JOIN subjects s
      GROUP BY e.t),
    terms AS (
      SELECT t, d1,
             CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)
               AS e1,
             CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(d AS DOUBLE)
                       * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
             END AS v
      FROM at_risk),
    folded AS (
      SELECT SUM(d1) AS o1,
             list_reduce(list(e1 ORDER BY t), (a, b) -> a + b) AS e1s,
             list_reduce(list(v ORDER BY t), (a, b) -> a + b) AS vs
      FROM terms)
    SELECT CAST(o1 AS BIGINT) AS observed_treat,
           ROUND(e1s, 6) AS expected_treat,
           ROUND(vs, 6) AS variance,
           ROUND((CAST(o1 AS DOUBLE) - e1s) / SQRT(vs), 6) AS logrank_z
    FROM folded
    """,
)
def logrank_survival_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing time-to-first-purchase between the two
    hash arms — the survival-curve comparison Kaplan-Meier alone can't
    give you: at each distinct event time the treated arm's observed
    events are compared against the hypergeometric expectation
    d·n1/n, variances accumulate per the standard formula, and
    Z = (O−E)/√V. Censoring at the horizon is handled exactly
    (integer millisecond times). At-risk counts come from an
    event-times × subjects aggregate; the fold is event-time
    ascending."""
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("tmax"))
    first_p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    subjects = (
        first_seen.join(first_p, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.when(F.col("pts").isNotNull(), 1).otherwise(0).alias("event"),
            F.when(
                F.col("pts").isNotNull(),
                F.unix_millis("pts") - F.unix_millis("t0"),
            )
            .otherwise(F.unix_millis("tmax") - F.unix_millis("t0"))
            .alias("t"),
        )
    )
    subjects = op_cache.reuse(subjects)
    etimes = subjects.filter(F.col("event") == 1).select("t").distinct()
    at_risk = (
        etimes.select(F.col("t").alias("et"))
        .crossJoin(subjects)
        .groupBy("et")
        .agg(
            F.sum(
                F.when((F.col("t") >= F.col("et")) & (F.col("arm") == 1), 1).otherwise(0)
            ).alias("n1"),
            F.sum(F.when(F.col("t") >= F.col("et"), 1).otherwise(0)).alias("n"),
            F.sum(
                F.when(
                    (F.col("t") == F.col("et"))
                    & (F.col("event") == 1)
                    & (F.col("arm") == 1),
                    1,
                ).otherwise(0)
            ).alias("d1"),
            F.sum(
                F.when(
                    (F.col("t") == F.col("et")) & (F.col("event") == 1), 1
                ).otherwise(0)
            ).alias("d"),
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    terms = at_risk.select(
        F.col("et").alias("t"),
        "d1",
        (dd("d") * dd("n1") / dd("n")).alias("e1"),
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(
            dd("d")
            * (dd("n1") / dd("n"))
            * (1 - dd("n1") / dd("n"))
            * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1).cast("double"))
        )
        .alias("v"),
    )
    folded = terms.agg(
        F.sum("d1").alias("o1"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, e1))), "
            "cast(0 as double), (acc, e) -> acc + e.e1)"
        ).alias("e1s"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, v))), "
            "cast(0 as double), (acc, e) -> acc + e.v)"
        ).alias("vs"),
    )
    return folded.select(
        F.col("o1").cast("bigint").alias("observed_treat"),
        F.round("e1s", 6).alias("expected_treat"),
        F.round("vs", 6).alias("variance"),
        F.round((dd("o1") - F.col("e1s")) / F.sqrt(F.col("vs")), 6).alias(
            "logrank_z"
        ),
    )


@register(
    "friedman_rank_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS block,
             o_orderpriority AS trt,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM orders GROUP BY 1, 2),
    blocks AS (
      SELECT block FROM cell GROUP BY block HAVING COUNT(*) = 5),
    ranked AS (
      SELECT c.block, c.trt,
             ROW_NUMBER() OVER (PARTITION BY c.block
                                ORDER BY c.v, c.trt) AS r
      FROM cell c JOIN blocks b ON b.block = c.block),
    rsum AS (
      SELECT trt, SUM(r) AS rj FROM ranked GROUP BY trt),
    nb AS (SELECT COUNT(*) AS b FROM blocks),
    chi AS (
      SELECT (SELECT list_reduce(list(
                CAST(rj AS DOUBLE) * CAST(rj AS DOUBLE) ORDER BY trt),
                (a, b) -> a + b) FROM rsum) AS sumr2,
             nb.b
      FROM nb)
    SELECT CAST(b AS BIGINT) AS n_blocks, 5 AS n_treatments,
           ROUND(CAST(12 AS DOUBLE) / (CAST(b AS DOUBLE) * 5 * 6) * sumr2
                 - 3 * CAST(b AS DOUBLE) * 6, 6) AS friedman_chi2
    FROM chi
    """,
)
def friedman_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across order priorities with months as
    blocks: within each complete month the five priorities rank by
    revenue (deterministic tiebreak), rank sums feed the χ² =
    12/(bk(k+1))·ΣR_j² − 3b(k+1) — the repeated-measures answer to
    "does priority matter, month after month" that ignores
    between-month level shifts entirely. Exact integer ranks; one
    window per block."""
    orders = _t(spark, sf_dir, "orders")
    cell = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate"))
        .cast("date")
        .alias("block"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
    cell = op_cache.reuse(cell)
    blocks = (
        cell.groupBy("block")
        .agg(F.count(F.lit(1)).alias("ntrt"))
        .filter(F.col("ntrt") == 5)
        .select("block")
    )
    wr = Window.partitionBy("block").orderBy("v", "trt")
    ranked = cell.join(blocks, "block").select(
        "block", "trt", F.row_number().over(wr).alias("r")
    )
    rsum = ranked.groupBy("trt").agg(F.sum("r").alias("rj"))
    nb = blocks.agg(F.count(F.lit(1)).alias("b"))
    sumr2 = rsum.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(trt, "
            "CAST(rj AS DOUBLE) * CAST(rj AS DOUBLE) AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("sumr2")
    )
    return (
        nb.crossJoin(F.broadcast(sumr2))
        .select(
            F.col("b").cast("bigint").alias("n_blocks"),
            F.lit(5).alias("n_treatments"),
            F.round(
                F.lit(12).cast("double")
                / (F.col("b").cast("double") * 5 * 6)
                * F.col("sumr2")
                - 3 * F.col("b").cast("double") * 6,
                6,
            ).alias("friedman_chi2"),
        )
    )


@register(
    "weibull_median_rank_fit",
    oracle="""
    WITH lat AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS td
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) > 0),
    per_d AS (SELECT td, COUNT(*) AS c FROM lat GROUP BY td),
    cum AS (
      SELECT td, c,
             SUM(c) OVER (ORDER BY td
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cd,
             SUM(c) OVER () AS n
      FROM per_d),
    pts AS (
      SELECT td,
             LN(CAST(td AS DOUBLE)) AS lx,
             LN(CAST(0 AS DOUBLE)
                - LN(CAST(1 AS DOUBLE)
                     - (CAST(cd AS DOUBLE) - CAST(0.3 AS DOUBLE))
                       / (CAST(n AS DOUBLE) + CAST(0.4 AS DOUBLE)))) AS ly,
             n
      FROM cum),
    mom AS (
      SELECT MAX(n) AS n_obs, COUNT(*) AS m,
             list_reduce(list(lx ORDER BY td), (a, b) -> a + b) AS sx,
             list_reduce(list(ly ORDER BY td), (a, b) -> a + b) AS sy,
             list_reduce(list(lx * lx ORDER BY td), (a, b) -> a + b) AS sxx,
             list_reduce(list(lx * ly ORDER BY td), (a, b) -> a + b) AS sxy,
             list_reduce(list(ly * ly ORDER BY td), (a, b) -> a + b) AS syy
      FROM pts),
    fit AS (
      SELECT n_obs, m,
             (CAST(m AS DOUBLE) * sxy - sx * sy)
             / (CAST(m AS DOUBLE) * sxx - sx * sx) AS k,
             sx, sy, sxx, sxy, syy
      FROM mom)
    SELECT CAST(n_obs AS BIGINT) AS n_obs,
           CAST(m AS INT) AS n_points,
           ROUND(k, 6) AS weibull_shape,
           ROUND(EXP(CAST(0 AS DOUBLE) - (sy - k * sx)
                     / CAST(m AS DOUBLE) / k), 4) AS weibull_scale_days,
           ROUND((CAST(m AS DOUBLE) * sxy - sx * sy)
                 * (CAST(m AS DOUBLE) * sxy - sx * sy)
                 / ((CAST(m AS DOUBLE) * sxx - sx * sx)
                    * (CAST(m AS DOUBLE) * syy - sy * sy)), 6) AS r_squared
    FROM fit
    """,
)
def weibull_median_rank_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale fit of order-to-ship latency by median-rank
    regression (Benard's approximation): the empirical CDF at each
    integer latency day becomes y = ln(-ln(1-F)), regressed on ln(t) —
    the standard reliability-engineering probability-plot fit, done on
    the ~100-point latency HISTOGRAM rather than per-row order
    statistics, so no global sort of the fact table ever happens (the
    rank comes from an integer prefix sum over distinct days). OLS
    moments fold in day order; shape>1 means wear-out (aging) latency,
    shape<1 infant-mortality. r^2 grades the Weibull hypothesis
    itself."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("td")
        )
        .filter(F.col("td") > 0)
    )
    per_d = lat.groupBy("td").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("td").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_d.select(
        "td",
        F.sum("c").over(wcum).alias("cd"),
        F.sum("c").over(wall).alias("n"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    pts = cum.select(
        "td",
        F.log(d(F.col("td"))).alias("lx"),
        F.log(
            F.lit(0).cast("double")
            - F.log(
                F.lit(1).cast("double")
                - (d(F.col("cd")) - F.lit(0.3).cast("double"))
                / (d(F.col("n")) + F.lit(0.4).cast("double"))
            )
        ).alias("ly"),
        "n",
    )
    fold = lambda expr_txt: F.expr(  # noqa: E731
        "aggregate(transform(array_sort(collect_set_arr), "
        f"s -> {expr_txt}), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    packed = pts.agg(
        F.max("n").alias("n_obs"),
        F.count(F.lit(1)).alias("m"),
        F.sort_array(F.collect_list(F.struct("td", "lx", "ly"))).alias(
            "collect_set_arr"
        ),
    ).select(
        "n_obs",
        "m",
        fold("s.lx").alias("sx"),
        fold("s.ly").alias("sy"),
        fold("s.lx * s.lx").alias("sxx"),
        fold("s.lx * s.ly").alias("sxy"),
        fold("s.ly * s.ly").alias("syy"),
    )
    fit = packed.select(
        "n_obs",
        "m",
        (
            (d(F.col("m")) * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (d(F.col("m")) * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("k"),
        "sx",
        "sy",
        "sxx",
        "sxy",
        "syy",
    )
    return fit.select(
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.col("m").cast("int").alias("n_points"),
        F.round("k", 6).alias("weibull_shape"),
        F.round(
            F.exp(
                F.lit(0).cast("double")
                - (F.col("sy") - F.col("k") * F.col("sx"))
                / d(F.col("m"))
                / F.col("k")
            ),
            4,
        ).alias("weibull_scale_days"),
        F.round(
            (d(F.col("m")) * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (d(F.col("m")) * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (d(F.col("m")) * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (d(F.col("m")) * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r_squared"),
    )


__all__ = [
    'window_topk',
    'window_running_total',
    'window_lag',
    'events_sessionize',
    'asof_join_q',
    'range_join_q',
    'window_function_breadth',
    'window_frames_breadth',
    'orders_month_densify',
    'events_locf_gap_fill',
    'events_rolling_7day_distinct_users',
    'events_topk_per_window',
    'events_rolling_corr_click_purchase',
    'spearman_daily_rank_correlation',
    'topk_per_group_agg_form',
    'cogrouped_asof_user_merge',
    'window_median_trailing',
    'asof_join_native_semantics',
    'hll_sliding_window_distinct',
    'calendar_edge_semantics',
    'textrank_keywords',
    'running_distinct_users',
    'named_window_clause',
    'logrank_survival_test',
    'friedman_rank_test',
    'weibull_median_rank_fit',
]
