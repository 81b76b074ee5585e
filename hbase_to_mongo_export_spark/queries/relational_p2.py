"""relational_p2 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403
from .graph import _so_pairs



@register(
    "incremental_join_maintenance",
    oracle="""
    WITH a_old AS (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_orderdate < TIMESTAMP '1996-01-01'),
    a_new AS (SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
    b_old AS (SELECT l_orderkey, l_extendedprice FROM lineitem
              WHERE l_shipdate < TIMESTAMP '1996-01-01'),
    b_new AS (SELECT l_orderkey, l_extendedprice FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
    base AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM a_old JOIN b_old ON b_old.l_orderkey = a_old.o_orderkey),
    d1 AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM a_new JOIN b_old ON b_old.l_orderkey = a_new.o_orderkey),
    d2 AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM a_old JOIN b_new ON b_new.l_orderkey = a_old.o_orderkey),
    d3 AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM a_new JOIN b_new ON b_new.l_orderkey = a_new.o_orderkey),
    direct AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT base.n AS base_rows,
           CAST(d1.n + d2.n + d3.n AS BIGINT) AS delta_rows,
           CAST(base.n + d1.n + d2.n + d3.n AS BIGINT) AS maintained_rows,
           (SELECT n FROM direct) AS direct_rows,
           CAST(ROUND(base.rev + d1.rev + d2.rev + d3.rev, 2) AS DOUBLE)
             AS maintained_rev,
           CAST(ROUND((SELECT rev FROM direct), 2) AS DOUBLE) AS direct_rev
    FROM base, d1, d2, d3
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance algebra: with both sides split
    into old/delta partitions, the maintained view is base(A⋈B) plus the
    three delta terms ΔA⋈B, A⋈ΔB, ΔA⋈ΔB — verified against the direct
    full join in the same result row. At 100 TB the three delta joins
    touch only delta-sized inputs on one side, which is why materialized
    join views refresh in minutes, not hours. DECIMAL revenue makes the
    equality exact, not approximate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1996-01-01").cast("timestamp")
    a_old = o.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_totalprice"
    )
    a_new = o.filter(F.col("o_orderdate") >= cut).select(
        "o_orderkey", "o_totalprice"
    )
    b_old = li.filter(F.col("l_shipdate") < cut).select(
        "l_orderkey", "l_extendedprice"
    )
    b_new = li.filter(F.col("l_shipdate") >= cut).select(
        "l_orderkey", "l_extendedprice"
    )

    def jstats(a, b, nn, rn):
        return a.join(b, b.l_orderkey == a.o_orderkey).agg(
            F.count(F.lit(1)).alias(nn),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(rn),
        )

    base = jstats(a_old, b_old, "bn", "br")
    d1 = jstats(a_new, b_old, "n1", "r1")
    d2 = jstats(a_old, b_new, "n2", "r2")
    d3 = jstats(a_new, b_new, "n3", "r3")
    direct = o.join(li, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("dr"),
    )
    return (
        base.crossJoin(F.broadcast(d1))
        .crossJoin(F.broadcast(d2))
        .crossJoin(F.broadcast(d3))
        .crossJoin(F.broadcast(direct))
        .select(
            F.col("bn").alias("base_rows"),
            (F.col("n1") + F.col("n2") + F.col("n3"))
            .cast("bigint")
            .alias("delta_rows"),
            (F.col("bn") + F.col("n1") + F.col("n2") + F.col("n3"))
            .cast("bigint")
            .alias("maintained_rows"),
            F.col("dn").alias("direct_rows"),
            F.round(
                F.col("br") + F.col("r1") + F.col("r2") + F.col("r3"), 2
            )
            .cast("double")
            .alias("maintained_rev"),
            F.round(F.col("dr"), 2).cast("double").alias("direct_rev"),
        )
    )


@register(
    "skew_hotkey_split_join",
    oracle="""
    WITH j AS (
      SELECT e.user_id, e.value, c.c_mktsegment
      FROM events e JOIN customer c ON c.c_custkey = e.user_id % 100 + 1)
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM j GROUP BY c_mktsegment ORDER BY segment
    """,
)
def skew_hotkey_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key isolation join (the third skew weapon next to salting and
    AQE): keys above the hot threshold join via a broadcast of the hot
    dimension SLICE — the skewed mass never shuffles — while the cold
    tail takes the normal shuffle join; union of the two is provably the
    plain join, which is exactly what the oracle computes. The folded
    key (user_id % 100) manufactures genuine hot keys from the events
    table."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (F.col("user_id") % 100 + 1).alias("k"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    joined = skew_mod.hotkey_split_join(ev, cust, key="k", hot_threshold=50)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("segment")
    )


@register("hll_intersection_estimate", oracle=_hll_intersection_oracle())
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: HyperLogLog supports union natively (register
    max), so intersections come from inclusion-exclusion — |A∩B| ≈
    est(A) + est(B) - est(A∪B) — the standard audience-overlap estimate,
    with its known error blow-up for small overlaps measured against the
    exact INTERSECT in the same row. All register arithmetic is the
    verified exact-integer HLL; the three estimates and the subtraction
    are the only floats."""
    p = 8
    m, wbits, rank_sql, alpha = _hll_parts(p)
    ev = _t(spark, sf_dir, "events")
    h = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    ranked = h.select(
        "g",
        (F.col("hv").bitwiseAND(F.lit(m - 1))).alias("bucket"),
        F.shiftright("hv", p).alias("w"),
    )
    regs = ranked.groupBy("g", "bucket").agg(
        F.expr(f"MAX({rank_sql})").alias("mj")
    )
    regs = op_cache.track(regs.cache())
    merged = regs.groupBy("bucket").agg(F.max("mj").alias("mj")).select(
        F.lit("union").alias("g"), "bucket", "mj"
    )
    allregs = regs.unionByName(merged)
    scopes = allregs.select("g").distinct()
    buckets = spark.range(m).select(F.col("id").alias("bucket"))
    full = (
        scopes.crossJoin(buckets)
        .join(allregs, ["g", "bucket"], "left")
        .select("g", "bucket", F.coalesce("mj", F.lit(0)).alias("mj"))
    )
    sums = full.groupBy("g").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {wbits + 1} - mj)")
        ).alias("inv_scaled"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = (
        F.lit(float(alpha))
        * F.lit(float(m * m))
        * F.lit(float(1 << (wbits + 1)))
        / F.col("inv_scaled").cast("double")
    )
    est = F.round(
        F.when(
            (raw <= F.lit(25 * m // 10)) & (F.col("zeros") > 0),
            F.lit(float(m))
            * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
        ).otherwise(raw),
        4,
    )
    ests = sums.select("g", est.alias("est"))
    wide = ests.agg(
        F.max(F.when(F.col("g") == "click", F.col("est"))).alias("est_click"),
        F.max(F.when(F.col("g") == "purchase", F.col("est"))).alias(
            "est_purchase"
        ),
        F.max(F.when(F.col("g") == "union", F.col("est"))).alias("est_union"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    exact = clicks.intersect(purch).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_intersection")
    )
    return wide.crossJoin(F.broadcast(exact)).select(
        "est_click",
        "est_purchase",
        "est_union",
        F.round(
            F.col("est_click") + F.col("est_purchase") - F.col("est_union"), 4
        ).alias("est_intersection"),
        "exact_intersection",
    )


@register(
    "conformal_interval_coverage",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1),
    pred AS (
      SELECT d, rev, LAG(rev, 7) OVER (ORDER BY d) AS yhat
      FROM daily),
    resid AS (
      SELECT d, rev, yhat, ABS(rev - yhat) AS r
      FROM pred WHERE yhat IS NOT NULL),
    calib AS (SELECT r FROM resid WHERE d < DATE '1997-01-01'),
    ncal AS (SELECT COUNT(*) AS n FROM calib),
    q AS (
      -- split-conformal quantile: the ceil((n+1)*0.9)-th order statistic
      SELECT r AS qhat FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, r) AS rk FROM calib)
      WHERE rk = LEAST((SELECT n FROM ncal),
                       CAST(CEIL(((SELECT n FROM ncal) + 1) * 0.9)
                            AS BIGINT))),
    test AS (
      SELECT rev, yhat, r FROM resid WHERE d >= DATE '1997-01-01')
    SELECT (SELECT n FROM ncal) AS n_calibration,
           COUNT(*) AS n_test,
           CAST((SELECT qhat FROM q) AS DOUBLE) AS q_hat,
           CAST(SUM(CASE WHEN r <= (SELECT qhat FROM q)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN r <= (SELECT qhat FROM q)
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS empirical_coverage
    FROM test
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — the distribution-free
    uncertainty wrapper every production forecaster should ship with: a
    seasonal-naive predictor's absolute residuals on the calibration
    period yield the ceil((n+1)*0.9)-th order statistic as the interval
    half-width (a SELECTION on exact decimals, no interpolation), and
    the empirical coverage on the held-out period checks the ~90%
    guarantee. Temporal split, integer counts, one window + one ranked
    pick."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("decimal(18,2)")
        .alias("rev")
    )
    wd = Window.orderBy("d")
    resid = (
        daily.select("d", "rev", F.lag("rev", 7).over(wd).alias("yhat"))
        .filter(F.col("yhat").isNotNull())
        .select("d", F.abs(F.col("rev") - F.col("yhat")).alias("r"))
    )
    resid = op_cache.track(resid.cache())
    cut = F.lit("1997-01-01").cast("date")
    calib = resid.filter(F.col("d") < cut)
    n_cal = calib.count()
    import math as _math

    rk = min(n_cal, _math.ceil((n_cal + 1) * 0.9))
    wq = Window.orderBy("r")
    qhat = (
        calib.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") == rk)
        .select(F.col("r").alias("qhat"))
    )
    test = resid.filter(F.col("d") >= cut)
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.lit(n_cal).cast("bigint").alias("n_calibration"),
            F.count(F.lit(1)).alias("n_test"),
            F.max(F.col("qhat").cast("double")).alias("q_hat"),
            F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
            F.round(
                F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("empirical_coverage"),
        )
    )


@register(
    "join_cardinality_estimate_audit",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k FROM orders),
    b AS (SELECT l_orderkey AS k FROM lineitem),
    actual AS (
      SELECT CAST(SUM(ca * cb) AS BIGINT) AS actual_rows FROM
        (SELECT k, COUNT(*) AS ca FROM a GROUP BY k) x
        JOIN (SELECT k, COUNT(*) AS cb FROM b GROUP BY k) y USING (k)),
    stats AS (
      SELECT (SELECT COUNT(*) FROM a) AS na,
             (SELECT COUNT(DISTINCT k) FROM a) AS da,
             (SELECT COUNT(*) FROM b) AS nb,
             (SELECT COUNT(DISTINCT k) FROM b) AS db)
    SELECT na, da, nb, db,
           CAST(na * nb // GREATEST(da, db) AS BIGINT) AS uniform_estimate,
           (SELECT actual_rows FROM actual) AS actual_rows,
           ROUND(CAST((SELECT actual_rows FROM actual) AS DOUBLE) /
                 (na * nb // GREATEST(da, db)), 4) AS skew_factor
    FROM stats
    """,
)
def join_cardinality_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics literacy as a query: the textbook uniform
    join-cardinality estimate |A||B| / max(ndv_A, ndv_B) next to the
    EXACT join size (sum of per-key count products — computed without
    materializing the join), and their ratio as the skew factor. When
    this ratio strays far from 1 the planner's row estimates — and
    therefore its join-order and broadcast decisions — are wrong; this
    is the audit you run before trusting CBO on a new dataset."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    ca = o.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    cb = li.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    actual = ca.join(cb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("actual_rows")
    )
    sa = o.agg(
        F.count(F.lit(1)).alias("na"), F.countDistinct("k").alias("da")
    )
    sb = li.agg(
        F.count(F.lit(1)).alias("nb"), F.countDistinct("k").alias("db")
    )
    return (
        sa.crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(actual))
        .select(
            "na",
            "da",
            "nb",
            "db",
            F.expr("na * nb div GREATEST(da, db)")
            .cast("bigint")
            .alias("uniform_estimate"),
            "actual_rows",
            F.round(
                F.col("actual_rows").cast("double")
                / F.expr("na * nb div GREATEST(da, db)"),
                4,
            ).alias("skew_factor"),
        )
    )


@register(
    "bloom_semijoin_reduction",
    oracle=f"""
    WITH sel AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    bits AS (
      SELECT DISTINCT {_PORTABLE_H_DUCK.format(x="concat(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))")} & 8191 AS bit
      FROM sel, (SELECT unnest(range(0, 4)) AS j)),
    probe AS (
      SELECT o_orderkey, o_custkey AS k FROM orders),
    probe_bits AS (
      SELECT o_orderkey, k,
             {_PORTABLE_H_DUCK.format(x="concat(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))")} & 8191 AS bit
      FROM probe, (SELECT unnest(range(0, 4)) AS j)),
    passed AS (
      SELECT p.o_orderkey, p.k
      FROM probe_bits p JOIN bits b ON b.bit = p.bit
      GROUP BY p.o_orderkey, p.k HAVING COUNT(*) = 4),
    exact AS (
      SELECT o.o_orderkey FROM orders o JOIN sel ON sel.k = o.o_custkey)
    SELECT (SELECT COUNT(*) FROM probe) AS n_orders,
           (SELECT COUNT(*) FROM passed) AS n_bloom_passed,
           (SELECT COUNT(*) FROM exact) AS n_true_matches,
           CAST((SELECT COUNT(*) FROM passed) -
                (SELECT COUNT(*) FROM exact) AS BIGINT) AS n_false_passes,
           ROUND(CAST((SELECT COUNT(*) FROM passed) AS DOUBLE) /
                 (SELECT COUNT(*) FROM probe), 6) AS pass_fraction
    """,
)
def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN REDUCTION — the distributed trick that
    shrinks a fact shuffle before an expensive join: the filtered
    dimension's key set compresses to 8192 bits (4 md5-salted hashes),
    the fact table pre-filters against the broadcast bitmap, and only
    bloom-passed rows would shuffle. The pass count sits next to the
    exact semi-join count, making the false-pass overhead (the price of
    1 KB instead of a key list) a measured number. Spark's own runtime
    bloom pushdown does this automatically for some plans; this is the
    explicit, verifiable form."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    sel = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    js = spark.range(4).select(F.col("id").alias("j"))
    hx = _BLOOM_H_SPARK.format(
        x="concat(CAST(j AS STRING), ':', CAST(k AS STRING))"
    )
    bits = (
        sel.crossJoin(F.broadcast(js))
        .select(F.expr(f"{hx} & 8191").alias("bit"))
        .distinct()
    )
    bits = op_cache.track(bits.cache())
    probe = orders.select("o_orderkey", F.col("o_custkey").alias("k"))
    probe_bits = probe.crossJoin(F.broadcast(js)).select(
        "o_orderkey", "k", F.expr(f"{hx} & 8191").alias("bit")
    )
    passed = (
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy("o_orderkey", "k")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == 4)
    )
    exact = orders.join(
        F.broadcast(sel), orders.o_custkey == sel.k, "left_semi"
    )
    n_orders = probe.agg(F.count(F.lit(1)).alias("n_orders"))
    n_passed = passed.agg(F.count(F.lit(1)).alias("n_bloom_passed"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_true_matches"))
    return (
        n_orders.crossJoin(F.broadcast(n_passed))
        .crossJoin(F.broadcast(n_exact))
        .select(
            "n_orders",
            "n_bloom_passed",
            "n_true_matches",
            (F.col("n_bloom_passed") - F.col("n_true_matches"))
            .cast("bigint")
            .alias("n_false_passes"),
            F.round(
                F.col("n_bloom_passed").cast("double") / F.col("n_orders"), 6
            ).alias("pass_fraction"),
        )
    )


@register(
    "events_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events),
    pts AS (
      SELECT s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta, event_id FROM iv),
    swept AS (
      -- at equal instants starts count before ends (closed-interval
      -- convention), tiebreak event_id for full determinism
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta DESC, event_id) AS load
      FROM pts)
    SELECT CAST(MAX(load) AS BIGINT) AS peak_concurrency,
           CAST((SELECT MIN(t) FROM swept
                 WHERE load = (SELECT MAX(load) FROM swept))
                AS TIMESTAMP) AS first_peak_at,
           (SELECT COUNT(*) FROM iv) AS n_intervals
    FROM swept
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by SWEEP LINE: each 30-minute activity interval
    becomes a +1/-1 boundary event, a running sum over the global
    boundary order is the live concurrency, and its max is the capacity
    number an interval self-join can't give without O(n²) pairs. The
    closed-interval tiebreak (starts before ends at equal instants,
    then event_id) makes the running sum fully deterministic. One
    explode + one ordered window — at 100 TB the order key is
    time-range partitioned."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    iv = op_cache.track(iv.cache())
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    wsweep = Window.orderBy(
        "t", F.desc("delta"), "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    swept = pts.select("t", F.sum("delta").over(wsweep).alias("load"))
    swept = op_cache.track(swept.cache())
    peak = swept.agg(F.max("load").alias("p"))
    first = (
        swept.join(F.broadcast(peak), swept.load == F.col("p"))
        .agg(F.min("t").alias("first_peak_at"))
    )
    n = iv.agg(F.count(F.lit(1)).alias("n_intervals"))
    return (
        peak.crossJoin(F.broadcast(first))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("p").cast("bigint").alias("peak_concurrency"),
            F.col("first_peak_at").cast("timestamp").alias("first_peak_at"),
            "n_intervals",
        )
    )


@register(
    "orders_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY 1),
    mr AS (
      SELECT d, n,
             ABS(n - LAG(n) OVER (ORDER BY d)) AS rng
      FROM daily),
    stats AS (
      SELECT CAST(SUM(n) AS BIGINT) AS sn,
             COUNT(*) AS cnt,
             CAST(SUM(rng) AS BIGINT) AS sr,
             COUNT(rng) AS cr
      FROM mr),
    limits AS (
      -- individuals chart: sigma_hat = MRbar / d2 (d2 = 1.128), limits
      -- at center +- 3 sigma; every input is an exact integer ratio
      SELECT CAST(sn AS DOUBLE) / cnt AS center,
             CAST(sn AS DOUBLE) / cnt +
             3 * (CAST(sr AS DOUBLE) / cr) / CAST(1.128 AS DOUBLE) AS ucl,
             CAST(sn AS DOUBLE) / cnt -
             3 * (CAST(sr AS DOUBLE) / cr) / CAST(1.128 AS DOUBLE) AS lcl
      FROM stats)
    SELECT COUNT(*) AS n_days,
           ROUND((SELECT center FROM limits), 4) AS center,
           ROUND((SELECT ucl FROM limits), 4) AS ucl,
           ROUND((SELECT lcl FROM limits), 4) AS lcl,
           CAST(SUM(CASE WHEN n > (SELECT ucl FROM limits)
                           OR n < (SELECT lcl FROM limits)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_control
    FROM daily
    """,
)
def orders_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals control chart on the daily order-count
    series: sigma estimated from the mean moving range (MRbar / 1.128 —
    the SPC estimator that's robust to slow drift), 3-sigma control
    limits, and the out-of-control day count. Complements CUSUM (drift)
    with the spike detector; every input to the float expressions is an
    exact integer sum so the limits agree bit-for-bit."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily = op_cache.track(daily.cache())
    wd = Window.orderBy("d")
    mr = daily.select(
        "n", F.abs(F.col("n") - F.lag("n").over(wd)).alias("rng")
    )
    stats = mr.agg(
        F.sum("n").cast("bigint").alias("sn"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum("rng").cast("bigint").alias("sr"),
        F.count("rng").alias("cr"),
    )
    center = F.col("sn").cast("double") / F.col("cnt")
    sig3 = F.lit(3) * (F.col("sr").cast("double") / F.col("cr")) / F.lit(1.128)
    lim = stats.select(
        center.alias("center"),
        (center + sig3).alias("ucl"),
        (center - sig3).alias("lcl"),
    )
    return (
        daily.crossJoin(F.broadcast(lim))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.max("center"), 4).alias("center"),
            F.round(F.max("ucl"), 4).alias("ucl"),
            F.round(F.max("lcl"), 4).alias("lcl"),
            F.sum(
                F.when(
                    (F.col("n") > F.col("ucl")) | (F.col("n") < F.col("lcl")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out_of_control"),
        )
    )


@register(
    "latency_percentile_bands",
    oracle="""
    WITH lat AS (
      SELECT date_trunc('month', o.o_orderdate) AS m,
             CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
               AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_linenumber = 1),
    ranked AS (
      SELECT m, days,
             ROW_NUMBER() OVER (PARTITION BY m ORDER BY days) AS rk,
             COUNT(*) OVER (PARTITION BY m) AS n
      FROM lat)
    SELECT CAST(m AS TIMESTAMP) AS month, CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN 2 * rk <= n + 1 THEN days END) AS BIGINT)
             AS p50_days,
           CAST(MAX(CASE WHEN 10 * rk <= 9 * n + 10 THEN days END) AS BIGINT)
             AS p90_days,
           CAST(MAX(CASE WHEN 100 * rk <= 99 * n + 100 THEN days END)
                AS BIGINT) AS p99_days
    FROM ranked GROUP BY m ORDER BY month
    """,
)
def latency_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly P50/P90/P99 order-to-ship latency bands — the ops SLA
    dashboard — as EXACT selection percentiles (the ceil(q(n+1))-ish
    nearest-rank pick, integer comparisons only: the rank qualifies
    while q·rank <= stays within the scaled bound, and MAX over the
    qualifying days is the order statistic). Integer day deltas, one
    rank window per month partition."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    lat = o.join(li, li.l_orderkey == o.o_orderkey).select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "days"
        ),
    )
    wr = Window.partitionBy("m").orderBy("days")
    wn = Window.partitionBy("m")
    ranked = lat.select(
        "m",
        "days",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.groupBy("m")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.max(
                F.when(2 * F.col("rk") <= F.col("n") + 1, F.col("days"))
            )
            .cast("bigint")
            .alias("p50_days"),
            F.max(
                F.when(10 * F.col("rk") <= 9 * F.col("n") + 10, F.col("days"))
            )
            .cast("bigint")
            .alias("p90_days"),
            F.max(
                F.when(
                    100 * F.col("rk") <= 99 * F.col("n") + 100, F.col("days")
                )
            )
            .cast("bigint")
            .alias("p99_days"),
        )
        .select(
            F.col("m").cast("timestamp").alias("month"),
            "n_orders",
            "p50_days",
            "p90_days",
            "p99_days",
        )
        .orderBy("month")
    )


@register(
    "surprising_edges_null_model",
    oracle="""
    WITH so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS obs
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    deg AS (
      SELECT s, CAST(SUM(obs) AS BIGINT) AS d FROM (
        SELECT u AS s, obs FROM w UNION ALL SELECT v, obs FROM w) t
      GROUP BY s),
    m AS (SELECT CAST(SUM(obs) AS BIGINT) AS m FROM w),
    scored AS (
      SELECT w.u, w.v, w.obs, du.d AS d_u, dv.d AS d_v,
             CAST(w.obs AS DOUBLE) * 2 * (SELECT m FROM m) /
             (CAST(du.d AS DOUBLE) * dv.d) AS lift
      FROM w JOIN deg du ON du.s = w.u JOIN deg dv ON dv.s = w.v
      WHERE w.obs >= 3)
    SELECT u, v, CAST(obs AS BIGINT) AS obs,
           CAST(d_u AS BIGINT) AS d_u, CAST(d_v AS BIGINT) AS d_v,
           ROUND(lift, 6) AS lift
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, u, v) AS rn
          FROM scored)
    WHERE rn <= 20 ORDER BY lift DESC, u, v
    """,
)
def surprising_edges_null_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge significance under the configuration null model: observed
    co-order weight vs the degree-preserving expectation d_u·d_v / 2m —
    the lift that separates structurally MEANINGFUL supplier
    relationships from what their sheer activity levels would produce
    by chance. Weighted degrees and totals are exact integers; the lift
    is a single-expression double. Min-support 3 keeps the tail of
    one-off co-orders out of the ranking."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so, count_alias="obs")
    w = op_cache.track(w.cache())
    deg = (
        w.select(F.col("u").alias("s"), "obs")
        .unionAll(w.select(F.col("v").alias("s"), "obs"))
        .groupBy("s")
        .agg(F.sum("obs").cast("bigint").alias("d"))
    )
    m = int(w.agg(F.sum("obs")).collect()[0][0])
    scored = (
        w.filter(F.col("obs") >= 3)
        .join(deg.select(F.col("s").alias("u"), F.col("d").alias("d_u")), "u")
        .join(deg.select(F.col("s").alias("v"), F.col("d").alias("d_v")), "v")
        .select(
            "u",
            "v",
            "obs",
            "d_u",
            "d_v",
            (
                F.col("obs").cast("double")
                * 2
                * m
                / (F.col("d_u").cast("double") * F.col("d_v"))
            ).alias("lift"),
        )
    )
    wr = Window.orderBy(F.desc("lift"), "u", "v")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select(
            "u",
            "v",
            F.col("obs").cast("bigint").alias("obs"),
            F.col("d_u").cast("bigint").alias("d_u"),
            F.col("d_v").cast("bigint").alias("d_v"),
            F.round("lift", 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "u", "v")
    )


@register(
    "effective_sample_size_weights",
    oracle="""
    WITH lang_share AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS nt FROM lang_share),
    target AS (
      SELECT lang,
             CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                       ELSE CAST(0.125 AS DOUBLE) END AS tshare
      FROM lang_share),
    lw AS (
      SELECT ls.lang, ls.n,
             t.tshare / (CAST(ls.n AS DOUBLE) / CAST(tt.nt AS DOUBLE)) AS w
      FROM lang_share ls JOIN target t ON t.lang = ls.lang, tot tt),
    mom AS (
      SELECT SUM(n) AS n,
             list_reduce(list(CAST(n AS DOUBLE) * w ORDER BY lang),
                         (a, b) -> a + b) AS sw,
             list_reduce(list(CAST(n AS DOUBLE) * w * w ORDER BY lang),
                         (a, b) -> a + b) AS sww,
             MAX(w) AS wmax
      FROM lw)
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(sw, 6) AS sum_weights,
           ROUND(sw * sw / sww, 6) AS effective_sample_size,
           ROUND((sw * sw / sww) / CAST(n AS DOUBLE), 6) AS ess_ratio,
           ROUND(wmax / sw, 6) AS max_weight_share
    FROM mom
    """,
)
def effective_sample_size_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weight diagnostics for a language-rebalancing scheme
    (target: 50% en, 12.5% each other): per-doc weight = target share /
    corpus share, then the Kish effective sample size (Σw)²/Σw², the
    ESS ratio, and the largest single weight's share — the numbers that
    tell you whether a reweighted estimate secretly rests on a handful
    of documents. Weights are constant within a language, so the moment
    sums collapse to a 5-row lang-ascending fold (n_l·w_l, n_l·w_l²) —
    nothing per-doc ever leaves the first aggregate."""
    docs = _t(spark, sf_dir, "documents")
    lang_share = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = lang_share.agg(F.sum("n").alias("nt"))
    target = lang_share.select(
        "lang",
        F.when(F.col("lang") == "en", F.lit(0.5).cast("double"))
        .otherwise(F.lit(0.125).cast("double"))
        .alias("tshare"),
    )
    lw = (
        lang_share.join(F.broadcast(target), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n",
            (
                F.col("tshare")
                / (F.col("n").cast("double") / F.col("nt").cast("double"))
            ).alias("w"),
        )
    )
    mom = lw.agg(
        F.sum("n").alias("n"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, "
            "CAST(n AS DOUBLE) * w AS nw))), "
            "cast(0 as double), (acc, e) -> acc + e.nw)"
        ).alias("sw"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, "
            "CAST(n AS DOUBLE) * w * w AS nww))), "
            "cast(0 as double), (acc, e) -> acc + e.nww)"
        ).alias("sww"),
        F.max("w").alias("wmax"),
    )
    return mom.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round("sw", 6).alias("sum_weights"),
        F.round(F.col("sw") * F.col("sw") / F.col("sww"), 6).alias(
            "effective_sample_size"
        ),
        F.round(
            (F.col("sw") * F.col("sw") / F.col("sww")) / F.col("n").cast("double"),
            6,
        ).alias("ess_ratio"),
        F.round(F.col("wmax") / F.col("sw"), 6).alias("max_weight_share"),
    )


@register(
    "matrix_profile_weekly_motif",
    oracle="""
    WITH cal AS (
      SELECT CAST(d AS DATE) AS day,
             CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(d AS DATE))
                  + 1 AS BIGINT) AS t
      FROM generate_series(DATE '1995-01-01', DATE '1995-12-31',
                           INTERVAL 1 DAY) g(d)),
    cnt AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders
      WHERE CAST(o_orderdate AS DATE)
            BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      GROUP BY 1),
    ser AS (
      SELECT cal.t, COALESCE(cnt.c, 0) AS x
      FROM cal LEFT JOIN cnt ON cal.day = cnt.day),
    win AS (
      SELECT t AS i, SUM(x) OVER w AS s, SUM(x * x) OVER w AS s2,
             COUNT(*) OVER w AS m
      FROM ser
      WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
    wv AS (SELECT i, s, s2 FROM win WHERE m = 7 AND 7 * s2 - s * s > 0),
    prod AS (
      SELECT a.t AS i, b.t - a.t AS dd, a.x * b.x AS p
      FROM ser a JOIN ser b ON b.t > a.t),
    q AS (
      SELECT i, dd,
             SUM(p) OVER w AS q7, COUNT(*) OVER w AS m
      FROM prod
      WINDOW w AS (PARTITION BY dd ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
    pairs AS (
      SELECT q.i AS i, q.i + q.dd AS j,
             SQRT(CAST(14 AS DOUBLE) * GREATEST(CAST(0 AS DOUBLE),
               CAST(1 AS DOUBLE)
               - CAST(7 * q.q7 - wa.s * wb.s AS DOUBLE)
                 / SQRT(CAST(7 * wa.s2 - wa.s * wa.s AS DOUBLE)
                        * CAST(7 * wb.s2 - wb.s * wb.s AS DOUBLE))))
               AS dist
      FROM q
      JOIN wv wa ON wa.i = q.i
      JOIN wv wb ON wb.i = q.i + q.dd
      WHERE q.m = 7 AND q.dd >= 4),
    motif AS (SELECT i, j, dist FROM pairs ORDER BY dist, i, j LIMIT 1),
    nn AS (
      SELECT k AS i, MIN(dist) AS nnd
      FROM (SELECT i AS k, dist FROM pairs
            UNION ALL SELECT j AS k, dist FROM pairs)
      GROUP BY k),
    discord AS (SELECT i, nnd FROM nn ORDER BY nnd DESC, i LIMIT 1)
    SELECT (SELECT COUNT(*) FROM wv) AS n_windows,
           DATE '1995-01-01' + CAST(m.i - 1 AS INT) AS motif_day_a,
           DATE '1995-01-01' + CAST(m.j - 1 AS INT) AS motif_day_b,
           ROUND(m.dist, 6) AS motif_dist,
           DATE '1995-01-01' + CAST(d.i - 1 AS INT) AS discord_day,
           ROUND(d.nnd, 6) AS discord_nn_dist
    FROM motif m, discord d
    """,
)
def matrix_profile_weekly_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile over the dense 1995 daily order-count series with
    a 7-day window: the top MOTIF (closest pair of weeks under
    z-normalized Euclidean distance, exclusion zone >= 4 days) and the
    top DISCORD (the week whose nearest neighbor is farthest) — the
    motif/anomaly primitives of the UCR matrix-profile line of work.
    The O(n^2) pair space factors through the lag dimension: per-lag
    elementwise products get a 7-row rolling sum (the STOMP recurrence
    as a windowed aggregate), and all window moments stay exact BIGINTs
    so each pair distance is deterministic double arithmetic. The series
    is CALENDAR-bounded (365 points after densification with missing
    days as zeros) — at 100 TB the daily agg is the only data-sized
    stage. Zero-variance weeks are excluded from both roles."""
    d1 = "1995-01-01"
    cal = spark.sql(
        f"SELECT explode(sequence(DATE'{d1}', DATE'1995-12-31')) AS day"
    ).select(
        "day",
        (F.datediff(F.col("day"), F.lit(d1).cast("date")) + 1)
        .cast("bigint")
        .alias("t"),
    )
    cnt = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("day"))
        .filter(F.col("day").between(d1, "1995-12-31"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ser (365 rows) feeds the moment windows AND both sides of the
    # lag-product join; wv and pairs fan out further. Materializing the
    # three reused frames makes the orders scan+daily agg run ONCE per
    # invocation instead of six times (guide §1.2 step 1).
    ser = _mat(
        cal.join(cnt, "day", "left")
        .select("t", F.coalesce("c", F.lit(0)).alias("x"))
    )
    w7 = Window.orderBy("t").rowsBetween(0, 6)
    win = ser.select(
        F.col("t").alias("i"),
        F.sum("x").over(w7).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w7).alias("s2"),
        F.count(F.lit(1)).over(w7).alias("m"),
    )
    wv = _mat(
        win.filter(
            (F.col("m") == 7) & (7 * F.col("s2") - F.col("s") * F.col("s") > 0)
        ).select("i", "s", "s2")
    )
    a = ser.alias("a")
    b = ser.alias("b")
    prod = a.join(F.broadcast(b), F.col("b.t") > F.col("a.t")).select(
        F.col("a.t").alias("i"),
        (F.col("b.t") - F.col("a.t")).alias("dd"),
        (F.col("a.x") * F.col("b.x")).alias("p"),
    )
    wq = Window.partitionBy("dd").orderBy("i").rowsBetween(0, 6)
    q = prod.select(
        "i",
        "dd",
        F.sum("p").over(wq).alias("q7"),
        F.count(F.lit(1)).over(wq).alias("m"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    wa = wv.alias("wa")
    wb = wv.alias("wb")
    qf = q.filter((F.col("m") == 7) & (F.col("dd") >= 4)).alias("qf")
    pairs = (
        qf.join(F.broadcast(wa), F.col("wa.i") == F.col("qf.i"))
        .join(
            F.broadcast(wb),
            F.col("wb.i") == F.col("qf.i") + F.col("qf.dd"),
        )
        .select(
            F.col("qf.i").alias("i"),
            (F.col("qf.i") + F.col("qf.dd")).alias("j"),
            F.sqrt(
                F.lit(14).cast("double")
                * F.greatest(
                    F.lit(0).cast("double"),
                    F.lit(1).cast("double")
                    - d(
                        7 * F.col("qf.q7") - F.col("wa.s") * F.col("wb.s")
                    )
                    / F.sqrt(
                        d(
                            7 * F.col("wa.s2")
                            - F.col("wa.s") * F.col("wa.s")
                        )
                        * d(
                            7 * F.col("wb.s2")
                            - F.col("wb.s") * F.col("wb.s")
                        )
                    ),
                )
            ).alias("dist"),
        )
    )
    pairs = _mat(pairs)  # reused by motif AND the discord nn aggregate
    motif = pairs.orderBy("dist", "i", "j").limit(1)
    nn = (
        pairs.select(F.col("i").alias("k"), "dist")
        .unionAll(pairs.select(F.col("j").alias("k"), "dist"))
        .groupBy("k")
        .agg(F.min("dist").alias("nnd"))
    )
    discord = nn.orderBy(F.desc("nnd"), "k").limit(1)
    nw = wv.agg(F.count(F.lit(1)).alias("n_windows"))
    day_of = lambda c: F.date_add(  # noqa: E731
        F.lit(d1).cast("date"), (F.col(c) - 1).cast("int")
    )
    return (
        motif.crossJoin(discord)
        .crossJoin(F.broadcast(nw))
        .select(
            "n_windows",
            day_of("i").alias("motif_day_a"),
            day_of("j").alias("motif_day_b"),
            F.round("dist", 6).alias("motif_dist"),
            day_of("k").alias("discord_day"),
            F.round("nnd", 6).alias("discord_nn_dist"),
        )
    )


@register(
    "merge_upsert_semantics",
    oracle="""
    WITH source AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 91 = 0 THEN 'delete' ELSE 'update' END AS op,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(1.10 AS DECIMAL(9,4)), 2) AS DOUBLE) AS new_price
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'insert', CAST(42.00 AS DOUBLE)
      FROM orders WHERE o_orderkey % 501 = 0
    ),
    merged AS (
      -- WHEN MATCHED AND op='delete' THEN DELETE;
      -- WHEN MATCHED THEN UPDATE SET price = new_price;
      -- WHEN NOT MATCHED THEN INSERT
      SELECT t.o_orderkey, t.o_orderstatus,
             COALESCE(s.new_price, t.o_totalprice) AS price
      FROM orders t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
      WHERE s.op IS NULL OR s.op <> 'delete'
      UNION ALL
      SELECT s.o_orderkey, 'I', s.new_price
      FROM source s ANTI JOIN orders t ON s.o_orderkey = t.o_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def merge_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO row semantics (matched-delete, matched-update,
    not-matched-insert) expressed declaratively: one left join applies
    the matched clauses, one anti join yields the inserts. The source
    delta is derived deterministically from `orders` itself so DuckDB
    can replay it. The FILE-level copy-on-write engine behavior (touched-
    file pruning, manifest commits, time travel) lives in
    operators/merge.py and is pinned by tests/test_merge.py — this entry
    value-checks the row-level contract those rewrites must satisfy. At
    scale the left join's source side is the small delta -> broadcast."""
    orders = _t(spark, sf_dir, "orders")
    dec2 = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    matched_src = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 91 == 0, "delete")
        .otherwise("update")
        .alias("op"),
        F.round(dec2(F.col("o_totalprice")) * F.lit(1.10).cast("decimal(9,4)"), 2)
        .cast("double")
        .alias("new_price"),
    )
    insert_src = orders.filter(F.col("o_orderkey") % 501 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("insert").alias("op"),
        F.lit(42.00).alias("new_price"),
    )
    source = matched_src.unionByName(insert_src)
    surviving = (
        orders.join(F.broadcast(source), "o_orderkey", "left")
        .filter(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("new_price", "o_totalprice").alias("price"),
        )
    )
    inserts = source.join(orders, "o_orderkey", "anti").select(
        "o_orderkey", F.lit("I").alias("o_orderstatus"), F.col("new_price").alias("price")
    )
    return (
        surviving.unionByName(inserts)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(dec2(F.col("price"))), 2).cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


__all__ = [
    'incremental_join_maintenance',
    'skew_hotkey_split_join',
    'hll_intersection_estimate',
    'conformal_interval_coverage',
    'join_cardinality_estimate_audit',
    'bloom_semijoin_reduction',
    'events_peak_concurrency',
    'orders_control_chart',
    'latency_percentile_bands',
    'surprising_edges_null_model',
    'effective_sample_size_weights',
    'matrix_profile_weekly_motif',
    'merge_upsert_semantics',
]
