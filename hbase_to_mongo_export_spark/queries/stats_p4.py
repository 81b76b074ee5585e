"""stats_p4 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "energy_distance_test",
    oracle="""
    WITH a AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v, o_orderkey
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v, o_orderkey
      FROM orders WHERE o_orderpriority = '5-LOW'),
    -- E|X-X'| * n^2 = 2 * sum_i (2i-1-n) x_(i)  (exact integers)
    sa AS (
      SELECT SUM((2 * rn - 1 - n) * v) AS w, MAX(n) AS n
      FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn,
                   COUNT(*) OVER () AS n FROM a)),
    sb AS (
      SELECT SUM((2 * rn - 1 - n) * v) AS w, MAX(n) AS n
      FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn,
                   COUNT(*) OVER () AS n FROM b)),
    -- E|X-Y| * n*m from the pooled ranking: for each element, its
    -- signed contribution against the cumulative counts of the OTHER
    -- sample (exact integers)
    pooled AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v, src, k) - ca AS prev_a,
             SUM(cb) OVER (ORDER BY v, src, k) - cb AS prev_b,
             SUM(ca * v) OVER (ORDER BY v, src, k) - ca * v AS prev_av,
             SUM(cb * v) OVER (ORDER BY v, src, k) - cb * v AS prev_bv,
             src, k
      FROM (SELECT v, 1 AS ca, 0 AS cb, 'a' AS src, o_orderkey AS k FROM a
            UNION ALL
            SELECT v, 0 AS ca, 1 AS cb, 'b', o_orderkey FROM b)),
    cross_sum AS (
      SELECT SUM(CASE WHEN ca = 1 THEN prev_b * v - prev_bv
                      ELSE prev_a * v - prev_av END) AS w
      FROM pooled),
    e AS (
      SELECT
        CAST(cs.w AS DOUBLE)
          / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS exy,
        CAST(2 AS DOUBLE) * CAST(sa.w AS DOUBLE)
          / (CAST(sa.n AS DOUBLE) * CAST(sa.n AS DOUBLE)) AS exx,
        CAST(2 AS DOUBLE) * CAST(sb.w AS DOUBLE)
          / (CAST(sb.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS eyy,
        sa.n AS n1, sb.n AS n2
      FROM sa, sb, cross_sum cs)
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
           ROUND(exy / 100, 6) AS mean_cross_distance,
           ROUND((2 * exy - exx - eyy) / 100, 6) AS energy_distance,
           ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (2 * exy - exx - eyy) / 100, 4) AS energy_statistic
    FROM e
    """,
)
def energy_distance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample energy distance between URGENT and LOW price
    distributions: 2E|X−Y| − E|X−X'| − E|Y−Y'|, with every pairwise
    expectation computed EXACTLY from order statistics (Σ(2i−1−n)x_(i)
    for within-sample, cumulative other-sample counts on the pooled
    ranking for cross) — integer cents until the final scaling, no
    O(n²) pair join anywhere. Completes the drift-metric family: KS
    (sup), CvM (integral), W1 (transport), energy (characteristic
    function)."""
    orders = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v")
    )
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        cents, "o_orderkey"
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        cents, "o_orderkey"
    )

    def within(df: DataFrame) -> DataFrame:
        wr = Window.orderBy("v", "o_orderkey")
        wc = Window.partitionBy()
        r = df.select(
            "v",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        return r.agg(
            F.sum((2 * F.col("rn") - 1 - F.col("n")) * F.col("v")).alias("w"),
            F.max("n").alias("n"),
        )

    sa = within(a)
    sb = within(b)
    pooled_src = a.select(
        "v", F.lit(1).alias("ca"), F.lit(0).alias("cb"),
        F.lit("a").alias("src"), F.col("o_orderkey").alias("k"),
    ).unionAll(
        b.select(
            "v", F.lit(0).alias("ca"), F.lit(1).alias("cb"),
            F.lit("b").alias("src"), F.col("o_orderkey").alias("k"),
        )
    )
    wo = Window.orderBy("v", "src", "k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pooled = pooled_src.select(
        "v",
        "ca",
        "cb",
        (F.sum("ca").over(wo) - F.col("ca")).alias("prev_a"),
        (F.sum("cb").over(wo) - F.col("cb")).alias("prev_b"),
        (F.sum(F.col("ca") * F.col("v")).over(wo) - F.col("ca") * F.col("v")).alias(
            "prev_av"
        ),
        (F.sum(F.col("cb") * F.col("v")).over(wo) - F.col("cb") * F.col("v")).alias(
            "prev_bv"
        ),
    )
    cross_sum = pooled.agg(
        F.sum(
            F.when(
                F.col("ca") == 1,
                F.col("prev_b") * F.col("v") - F.col("prev_bv"),
            ).otherwise(F.col("prev_a") * F.col("v") - F.col("prev_av"))
        ).alias("w")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    e = (
        cross_sum.crossJoin(
            F.broadcast(sa.select(F.col("w").alias("wa"), F.col("n").alias("n1")))
        )
        .crossJoin(
            F.broadcast(sb.select(F.col("w").alias("wb"), F.col("n").alias("n2")))
        )
        .select(
            (d("w") / (d("n1") * d("n2"))).alias("exy"),
            (F.lit(2).cast("double") * d("wa") / (d("n1") * d("n1"))).alias(
                "exx"
            ),
            (F.lit(2).cast("double") * d("wb") / (d("n2") * d("n2"))).alias(
                "eyy"
            ),
            "n1",
            "n2",
        )
    )
    return e.select(
        F.col("n1").cast("bigint").alias("n_urgent"),
        F.col("n2").cast("bigint").alias("n_low"),
        F.round(F.col("exy") / 100, 6).alias("mean_cross_distance"),
        F.round(
            (2 * F.col("exy") - F.col("exx") - F.col("eyy")) / 100, 6
        ).alias("energy_distance"),
        F.round(
            d("n1") * d("n2") / (d("n1") + d("n2"))
            * (2 * F.col("exy") - F.col("exx") - F.col("eyy"))
            / 100,
            4,
        ).alias("energy_statistic"),
    )


@register(
    "jackknife_delete_group",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 AS bucket,
             COUNT(*) AS s,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events GROUP BY user_id),
    bucket_mom AS (
      SELECT bucket, SUM(s) AS ss, SUM(y) AS sy
      FROM per_user GROUP BY bucket),
    tot AS (
      SELECT SUM(ss) AS ts, SUM(sy) AS ty, COUNT(*) AS g
      FROM bucket_mom),
    full_ratio AS (
      SELECT CAST(ty AS DOUBLE) / CAST(ts AS DOUBLE) AS r FROM tot),
    loo AS (
      SELECT b.bucket,
             CAST(t.ty - b.sy AS DOUBLE) / CAST(t.ts - b.ss AS DOUBLE)
               AS r_loo
      FROM bucket_mom b, tot t),
    pseudo AS (
      SELECT l.bucket,
             CAST(t.g AS DOUBLE) * fr.r
             - CAST(t.g - 1 AS DOUBLE) * l.r_loo AS pv
      FROM loo l, tot t, full_ratio fr),
    var_ AS (
      SELECT
        list_reduce(list(pv ORDER BY bucket), (a, b) -> a + b)
          / CAST(COUNT(*) AS DOUBLE) AS pv_mean,
        list_reduce(list(pv * pv ORDER BY bucket), (a, b) -> a + b)
          AS pv_ss,
        COUNT(*) AS g
      FROM pseudo)
    SELECT CAST(v.g AS BIGINT) AS n_groups,
           ROUND(fr.r, 6) AS ratio_estimate,
           ROUND(v.pv_mean, 6) AS jackknife_estimate,
           ROUND((v.pv_ss - CAST(v.g AS DOUBLE) * v.pv_mean * v.pv_mean)
                 / (CAST(v.g AS DOUBLE) * CAST(v.g - 1 AS DOUBLE)), 9)
             AS jackknife_variance
    FROM var_ v, full_ratio fr
    """,
)
def jackknife_delete_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife for the revenue-per-event ratio metric:
    users hash into 10 deterministic buckets, each leave-one-bucket-out
    ratio comes from EXACT decimal moment subtraction (never a second
    data pass), pseudo-values g·θ̂ − (g−1)·θ̂₋ᵢ give the bias-corrected
    estimate and its variance — the estimator production experiment
    platforms use when the delta method's assumptions are in doubt.
    One user aggregate → 10 bucket rows; folds bucket-ascending."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("s"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("y"),
    )
    bucket_mom = per_user.groupBy(
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)),1,15),16,10) "
            "AS BIGINT) % 10"
        ).alias("bucket")
    ).agg(F.sum("s").alias("ss"), F.sum("y").alias("sy"))
    bucket_mom = op_cache.track(bucket_mom.cache())
    tot = bucket_mom.agg(
        F.sum("ss").alias("ts"),
        F.sum("sy").alias("ty"),
        F.count(F.lit(1)).alias("g"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    loo = bucket_mom.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "g",
        (d("ty") / d("ts")).alias("r"),
        (
            (F.col("ty") - F.col("sy")).cast("double")
            / (F.col("ts") - F.col("ss")).cast("double")
        ).alias("r_loo"),
    )
    pseudo = loo.select(
        "bucket",
        "g",
        "r",
        (
            d("g") * F.col("r") - (F.col("g") - 1).cast("double") * F.col("r_loo")
        ).alias("pv"),
    )
    var_ = pseudo.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(bucket, pv))), "
                "cast(0 as double), (acc, e) -> acc + e.pv)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("pv_mean"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(bucket, pv * pv AS p2))), "
            "cast(0 as double), (acc, e) -> acc + e.p2)"
        ).alias("pv_ss"),
        F.count(F.lit(1)).alias("g"),
        F.max("r").alias("r"),
    )
    return var_.select(
        F.col("g").cast("bigint").alias("n_groups"),
        F.round("r", 6).alias("ratio_estimate"),
        F.round("pv_mean", 6).alias("jackknife_estimate"),
        F.round(
            (
                F.col("pv_ss")
                - d("g") * F.col("pv_mean") * F.col("pv_mean")
            )
            / (d("g") * (F.col("g") - 1).cast("double")),
            9,
        ).alias("jackknife_variance"),
    )


@register("huber_location_m_estimator", oracle=_huber_oracle())
def huber_location_m_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of daily-revenue location: two IRLS rounds
    from the exact-rank median with tuning constant k = 1.5·MAD —
    inliers get weight 1, outliers weight k/|residual|, so the center
    is mean-efficient on clean days yet median-robust against spikes
    (the estimator between the mean and the median that robust
    pipelines actually use). Median and MAD by exact rank; each IRLS
    round is one pinned-order fold pair."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    daily = op_cache.track(daily.cache())
    wrn = Window.orderBy("y", "d")
    wc = Window.partitionBy()
    med = (
        daily.select(
            "y",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("y").alias("m"))
    )
    med = op_cache.track(med.cache())
    wdev = Window.orderBy(F.abs(F.col("y") - F.col("m")), "d")
    mad = (
        daily.crossJoin(F.broadcast(med))
        .select(
            "d",
            F.abs(F.col("y") - F.col("m")).alias("dev"),
            F.row_number().over(wdev).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("dev").alias("mad"))
    )
    scale = mad.select(
        (F.lit(1.5).cast("double") * F.col("mad")).alias("k")
    )
    scale = op_cache.track(scale.cache())
    mu = med.select(F.col("m").alias("mu"))
    for _ in range(2):
        w = (
            daily.crossJoin(F.broadcast(mu))
            .crossJoin(F.broadcast(scale))
            .select(
                "d",
                "y",
                F.when(
                    F.abs(F.col("y") - F.col("mu")) <= F.col("k"),
                    F.lit(1.0),
                )
                .otherwise(F.col("k") / F.abs(F.col("y") - F.col("mu")))
                .alias("w"),
            )
        )
        mu = w.agg(
            (
                F.expr(
                    "aggregate(array_sort(collect_list(struct(d, "
                    "w * y AS wy))), "
                    "cast(0 as double), (acc, e) -> acc + e.wy)"
                )
                / F.expr(
                    "aggregate(array_sort(collect_list(struct(d, w))), "
                    "cast(0 as double), (acc, e) -> acc + e.w)"
                )
            ).alias("mu")
        )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    return (
        n.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(scale))
        .crossJoin(F.broadcast(mu))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.round("m", 6).alias("median_start"),
            F.round("k", 6).alias("huber_k"),
            F.round("mu", 6).alias("huber_location"),
        )
    )


@register(
    "ppcc_exponentiality_test",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_ms(ts) - epoch_ms(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS g,
             event_id
      FROM events WHERE event_type = 'purchase'),
    g2 AS (
      SELECT CAST(g AS DOUBLE) / 1000 AS x, user_id, event_id
      FROM gaps WHERE g IS NOT NULL AND g > 0),
    ranked AS (
      SELECT x,
             ROW_NUMBER() OVER (ORDER BY x, user_id, event_id) AS i,
             COUNT(*) OVER () AS n
      FROM g2),
    q AS (
      SELECT i, x,
             -LN(1 - CAST(i AS DOUBLE) / CAST(n + 1 AS DOUBLE)) AS t
      FROM ranked),
    mom AS (
      SELECT COUNT(*) AS n,
             list_reduce(list(x ORDER BY i), (a, b) -> a + b) AS sx,
             list_reduce(list(t ORDER BY i), (a, b) -> a + b) AS st,
             list_reduce(list(x * x ORDER BY i), (a, b) -> a + b) AS sxx,
             list_reduce(list(t * t ORDER BY i), (a, b) -> a + b) AS stt,
             list_reduce(list(x * t ORDER BY i), (a, b) -> a + b) AS sxt
      FROM q)
    SELECT CAST(n AS BIGINT) AS n_gaps,
           ROUND(sx / CAST(n AS DOUBLE), 6) AS mean_gap_seconds,
           ROUND((CAST(n AS DOUBLE) * sxt - sx * st)
                 / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * stt - st * st)), 6)
             AS ppcc_exponential
    FROM mom
    """,
)
def ppcc_exponentiality_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-plot correlation test for exponential inter-purchase
    gaps: sorted gaps correlate against the theoretical exponential
    quantiles −ln(1−i/(n+1)); PPCC near 1 says purchases arrive
    Poisson-like (memoryless), a low PPCC says bursts/regularity —
    deciding whether queueing formulas (Little's law, M/M/1 bounds)
    even apply. One lag window per user, one global rank, moment folds
    in pinned order."""
    ev = _t(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(wp))).alias(
                "g"
            ),
        )
        .filter(F.col("g").isNotNull() & (F.col("g") > 0))
        .select(
            (F.col("g").cast("double") / 1000).alias("x"),
            "user_id",
            "event_id",
        )
    )
    wr = Window.orderBy("x", "user_id", "event_id")
    wc = Window.partitionBy()
    ranked = gaps.select(
        "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    q = ranked.select(
        "i",
        "x",
        (
            -F.log(
                1 - F.col("i").cast("double") / (F.col("n") + 1).cast("double")
            )
        ).alias("t"),
    )
    fold = lambda expr, name: F.expr(  # noqa: E731
        f"aggregate(array_sort(collect_list(struct(i, {expr} AS v))), "
        f"cast(0 as double), (acc, e) -> acc + e.v)"
    ).alias(name)
    mom = q.agg(
        F.count(F.lit(1)).alias("n"),
        fold("x", "sx"),
        fold("t", "st"),
        fold("x * x", "sxx"),
        fold("t * t", "stt"),
        fold("x * t", "sxt"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return mom.select(
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(F.col("sx") / d("n"), 6).alias("mean_gap_seconds"),
        F.round(
            (d("n") * F.col("sxt") - F.col("sx") * F.col("st"))
            / F.sqrt(
                (d("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (d("n") * F.col("stt") - F.col("st") * F.col("st"))
            ),
            6,
        ).alias("ppcc_exponential"),
    )


@register(
    "gumbel_block_maxima",
    oracle="""
    WITH blocks AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS mx
      FROM orders GROUP BY 1),
    mom AS (
      SELECT COUNT(*) AS n,
             list_reduce(list(CAST(mx AS DOUBLE) ORDER BY m),
                         (a, b) -> a + b) AS s,
             list_reduce(list(CAST(mx AS DOUBLE) * CAST(mx AS DOUBLE)
                              ORDER BY m), (a, b) -> a + b) AS ss
      FROM blocks),
    fit AS (
      SELECT n,
             s / CAST(n AS DOUBLE) AS mean_,
             SQRT((ss - s * s / CAST(n AS DOUBLE))
                  / CAST(n - 1 AS DOUBLE)) AS sd
      FROM mom),
    params AS (
      -- method of moments: beta = sd*sqrt(6)/pi, mu = mean - gamma*beta
      SELECT n, mean_, sd,
             sd * CAST(2.449489742783178 AS DOUBLE)
                / CAST(3.141592653589793 AS DOUBLE) AS beta
      FROM fit)
    SELECT CAST(n AS BIGINT) AS n_blocks,
           ROUND(mean_, 6) AS mean_block_max,
           ROUND(beta, 6) AS gumbel_beta,
           ROUND(mean_ - CAST(0.5772156649015329 AS DOUBLE) * beta, 6)
             AS gumbel_mu,
           ROUND(mean_ - CAST(0.5772156649015329 AS DOUBLE) * beta
                 - beta * LN(-LN(CAST(0.99 AS DOUBLE))), 6)
             AS return_level_100
    FROM params
    """,
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV1) fit to monthly block maxima of order values by the
    method of moments (β = s·√6/π, μ = x̄ − γβ with Euler's constant
    pinned), plus the 100-block return level μ − β·ln(−ln 0.99) —
    block-maxima extreme-value theory, the third leg next to the Hill
    index and the GPD peaks-over-threshold fit: "how large a maximum
    should we budget for once per ~8 years". One block aggregate, one
    moment fold."""
    orders = _t(spark, sf_dir, "orders")
    blocks = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m")
    ).agg(F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("mx"))
    mom = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(m, "
            "CAST(mx AS DOUBLE) AS x))), "
            "cast(0 as double), (acc, e) -> acc + e.x)"
        ).alias("s"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(m, "
            "CAST(mx AS DOUBLE) * CAST(mx AS DOUBLE) AS xx))), "
            "cast(0 as double), (acc, e) -> acc + e.xx)"
        ).alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fit = mom.select(
        "n",
        (F.col("s") / d("n")).alias("mean_"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / d("n"))
            / (F.col("n") - 1).cast("double")
        ).alias("sd"),
    )
    beta = (
        F.col("sd")
        * F.lit(2.449489742783178).cast("double")
        / F.lit(3.141592653589793).cast("double")
    )
    gamma = F.lit(0.5772156649015329).cast("double")
    return fit.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.round("mean_", 6).alias("mean_block_max"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(F.col("mean_") - gamma * beta, 6).alias("gumbel_mu"),
        F.round(
            F.col("mean_")
            - gamma * beta
            - beta * F.log(-F.log(F.lit(0.99).cast("double"))),
            6,
        ).alias("return_level_100"),
    )


@register(
    "neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT o_orderpriority AS h, COUNT(*) AS nh,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS ss
      FROM orders GROUP BY o_orderpriority),
    sd AS (
      SELECT h, nh,
             SQRT((CAST(nh AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE))) AS sh
      FROM strata),
    tot AS (
      SELECT list_reduce(list(CAST(nh AS DOUBLE) * sh ORDER BY h),
                         (a, b) -> a + b) AS denom
      FROM sd)
    SELECT s.h AS stratum, CAST(s.nh AS BIGINT) AS population,
           ROUND(s.sh, 4) AS stratum_sd,
           ROUND(CAST(1000 AS DOUBLE) * CAST(s.nh AS DOUBLE) * s.sh
                 / t.denom, 6) AS neyman_sample,
           ROUND(CAST(1000 AS DOUBLE) * CAST(s.nh AS DOUBLE)
                 / (SELECT SUM(CAST(nh AS DOUBLE)) FROM sd), 6)
             AS proportional_sample
    FROM sd s, tot t
    ORDER BY stratum
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-unit sampling budget across
    order-priority strata: n_h ∝ N_h·S_h (bigger AND more variable
    strata get more samples), shown against naive proportional
    allocation — the survey-sampling formula that minimizes the
    variance of a stratified estimate at fixed cost (the same math
    allocates eval-annotation budget across data sources). Exact
    decimal moments per stratum; one 5-row fold."""
    orders = _t(spark, sf_dir, "orders")
    strata = orders.groupBy(F.col("o_orderpriority").alias("h")).agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.sum(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.col("o_totalprice").cast("decimal(18,2)")
        ).alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sd = strata.select(
        "h",
        "nh",
        F.sqrt(
            (d("nh") * d("ss") - d("s") * d("s"))
            / (d("nh") * (F.col("nh") - 1).cast("double"))
        ).alias("sh"),
    )
    sd = op_cache.track(sd.cache())
    tot = sd.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(h, "
            "CAST(nh AS DOUBLE) * sh AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("denom"),
        F.sum(d("nh")).alias("ntot"),
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            F.col("h").alias("stratum"),
            F.col("nh").cast("bigint").alias("population"),
            F.round("sh", 4).alias("stratum_sd"),
            F.round(
                F.lit(1000).cast("double") * d("nh") * F.col("sh")
                / F.col("denom"),
                6,
            ).alias("neyman_sample"),
            F.round(
                F.lit(1000).cast("double") * d("nh") / F.col("ntot"), 6
            ).alias("proportional_sample"),
        )
        .orderBy("stratum")
    )


@register(
    "poisson_bootstrap_ci",
    oracle="""
    WITH reps AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p, b
      FROM orders, (SELECT unnest(range(0, 32)) AS b)),
    hashed AS (
      SELECT b, p,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                  || CAST(b AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS m
      FROM reps),
    wt AS (
      SELECT b, p,
             (CASE WHEN m >= 367879 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 735758 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 919698 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 981011 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 996340 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 999405 THEN 1 ELSE 0 END)
           + (CASE WHEN m >= 999916 THEN 1 ELSE 0 END) AS w
      FROM hashed),
    per AS (
      SELECT b, SUM(w * p) AS s, SUM(w) AS n FROM wt GROUP BY b),
    ms AS (
      SELECT list_sort(list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS v
      FROM per),
    mu AS (
      SELECT v, list_reduce(v, (a, b) -> a + b)
                  / CAST(32 AS DOUBLE) AS boot_mean
      FROM ms),
    pt AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS est
      FROM orders)
    SELECT CAST(32 AS BIGINT) AS replicates,
           ROUND(pt.est, 6) AS point_mean,
           ROUND(mu.boot_mean, 6) AS boot_mean,
           ROUND(SQRT(list_reduce(
                   list_transform(mu.v,
                     x -> (x - mu.boot_mean) * (x - mu.boot_mean)),
                   (a, b) -> a + b) / CAST(31 AS DOUBLE)), 6) AS boot_se,
           ROUND(mu.v[2], 6) AS ci_lower_p025,
           ROUND(mu.v[31], 6) AS ci_upper_p975
    FROM mu, pt
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean order value, B=32
    replicates. The scalable bootstrap: instead of resampling n rows
    with replacement (a shuffle per replicate and a full copy of the
    data), every row independently draws a Poisson(1) weight per
    replicate — one pass, embarrassingly parallel, the standard trick
    for resampling a 100 TB table where "sample n of n with
    replacement" is unimplementable. Weights are derived from the
    md5-portable hash of (orderkey, replicate) via an integer
    inverse-CDF table (thresholds = floor(CDF_Poisson(1)(k) * 1e6)), so
    the resample — and therefore the CI — is bit-reproducible in any
    engine. Replicate means use exact decimal sums; the final
    percentile/SE fold sorts the 32 means first so the float
    accumulation order is pinned."""
    orders = _t(spark, sf_dir, "orders")
    reps = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    m = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w = sum(
        F.when(m >= t, 1).otherwise(0)
        for t in (367879, 735758, 919698, 981011, 996340, 999405, 999916)
    )
    per = (
        reps.select("b", "p", w.alias("w"))
        .groupBy("b")
        .agg(F.sum(F.col("w") * F.col("p")).alias("s"), F.sum("w").alias("n"))
    )
    ms = per.agg(
        F.array_sort(
            F.collect_list(F.col("s").cast("double") / F.col("n").cast("double"))
        ).alias("v")
    )
    mu = ms.select(
        "v",
        (
            F.aggregate("v", F.lit(0.0).cast("double"), lambda a, x: a + x)
            / F.lit(32).cast("double")
        ).alias("boot_mean"),
    )
    pt = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("est")
    )
    return mu.crossJoin(F.broadcast(pt)).select(
        F.lit(32).cast("bigint").alias("replicates"),
        F.round("est", 6).alias("point_mean"),
        F.round("boot_mean", 6).alias("boot_mean"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "v",
                        lambda x: (x - F.col("boot_mean"))
                        * (x - F.col("boot_mean")),
                    ),
                    F.lit(0.0).cast("double"),
                    lambda a, x: a + x,
                )
                / F.lit(31).cast("double")
            ),
            6,
        ).alias("boot_se"),
        F.round(F.element_at("v", 2), 6).alias("ci_lower_p025"),
        F.round(F.element_at("v", 31), 6).alias("ci_upper_p975"),
    )


@register(
    "preference_pairs_by_lang",
    oracle="""
    WITH scored AS (
      SELECT lang, doc_id,
             CAST(length(list_distinct(string_split_regex(
                    lower(trim(text)), '\\s+'))) AS BIGINT) AS score
      FROM documents),
    r AS (
      SELECT lang, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS rd,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score ASC, doc_id) AS ra
      FROM scored)
    SELECT c.lang AS lang,
           c.doc_id AS chosen_id, c.score AS chosen_score,
           j.doc_id AS rejected_id, j.score AS rejected_score,
           c.score - j.score AS margin
    FROM r c JOIN r j ON c.lang = j.lang
    WHERE c.rd = 1 AND j.ra = 1 AND c.doc_id <> j.doc_id
    ORDER BY lang
    """,
)
def preference_pairs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training data:
    per language, pair the highest-scoring document (chosen) with the
    lowest-scoring one (rejected), scored here by distinct-word count
    as a stand-in for a reward model. The shape is the point — an
    argmax/argmin per group with a deterministic (score, doc_id)
    tiebreak, producing (chosen, rejected, margin) rows a DPO loader
    consumes. Two row_number windows over the same partition key
    (single sort each), then a 1-row-per-group self-join; at 100 TB
    the group key would be the prompt id and the same plan holds —
    no driver-side collection, no all-pairs stage."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        "doc_id",
        F.size(
            F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
        )
        .cast("bigint")
        .alias("score"),
    )
    wd = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    wa = Window.partitionBy("lang").orderBy(
        F.col("score").asc(), F.col("doc_id")
    )
    r = scored.select(
        "lang",
        "doc_id",
        "score",
        F.row_number().over(wd).alias("rd"),
        F.row_number().over(wa).alias("ra"),
    )
    r = op_cache.track(r.cache())
    c = r.filter(F.col("rd") == 1).select(
        "lang",
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    j = r.filter(F.col("ra") == 1).select(
        "lang",
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        c.join(j, "lang")
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "lang",
            "chosen_id",
            "chosen_score",
            "rejected_id",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
        .orderBy("lang")
    )


@register(
    "roc_auc_rank",
    oracle="""
    WITH scored AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS score,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders),
    rn AS (
      SELECT y, score,
             ROW_NUMBER() OVER (ORDER BY score) AS r
      FROM scored),
    tied AS (
      SELECT y,
             MIN(r) OVER (PARTITION BY score)
           + MAX(r) OVER (PARTITION BY score) AS r2
      FROM rn),
    agg AS (
      SELECT SUM(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS sum_r2_pos,
             SUM(y) AS n1, SUM(1 - y) AS n0
      FROM tied)
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           ROUND(CAST(sum_r2_pos - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(2 * n1 * n0 AS DOUBLE), 6) AS auc,
           ROUND(CAST(sum_r2_pos - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(n1 * n0 AS DOUBLE) - CAST(1 AS DOUBLE), 6)
             AS gini
    FROM agg
    """,
)
def roc_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of "order value predicts urgent priority", computed by
    the exact tie-corrected rank formula (the Mann-Whitney U identity:
    AUC = (R+ − n1(n1+1)/2) / (n1·n0) with average ranks on ties) —
    the distributed way to get AUC without materializing the curve: a
    single global sort, no threshold sweep, no driver-side loop. Tie
    handling stays in integer arithmetic: the average rank of a tie
    block is (min_rownum + max_rownum)/2, so we sum 2·avg_rank as a
    BIGINT and divide once at the end — bit-exact at any scale and
    partitioning. Also reports the Gini coefficient 2·AUC − 1. At
    100 TB the global sort is the cost — the same rank machinery as
    window_topk, one range-exchange."""
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("score"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    rn = scored.select(
        "y",
        "score",
        F.row_number().over(Window.orderBy("score")).alias("r"),
    )
    tie = Window.partitionBy("score")
    tied = rn.select(
        "y",
        (F.min("r").over(tie) + F.max("r").over(tie)).alias("r2"),
    )
    agg = tied.agg(
        F.sum(F.when(F.col("y") == 1, F.col("r2")).otherwise(0)).alias(
            "sum_r2_pos"
        ),
        F.sum("y").alias("n1"),
        F.sum(1 - F.col("y")).alias("n0"),
    )
    num = F.col("sum_r2_pos") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.round(
            num.cast("double")
            / (2 * F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("auc"),
        F.round(
            num.cast("double") / (F.col("n1") * F.col("n0")).cast("double")
            - F.lit(1).cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "lorenz_curve_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey),
    dec AS (
      SELECT r, NTILE(10) OVER (ORDER BY r, o_custkey) AS decile
      FROM rev),
    per AS (
      SELECT decile, COUNT(*) AS customers, SUM(r) AS decile_revenue
      FROM dec GROUP BY decile),
    cum AS (
      SELECT decile, customers, decile_revenue,
             SUM(decile_revenue) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(decile_revenue) OVER () AS t
      FROM per)
    SELECT decile, CAST(customers AS BIGINT) AS customers,
           CAST(decile_revenue AS DECIMAL(38,2)) AS decile_revenue,
           ROUND(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 6)
             AS cum_revenue_share
    FROM cum ORDER BY decile
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of revenue concentration: customers ranked by
    lifetime revenue, cut into NTILE(10) deciles (deterministic
    (revenue, custkey) tiebreak so the cut is reproducible), with each
    decile's exact-decimal revenue and the cumulative revenue share —
    the curve whose area defect is the Gini coefficient, and the
    standard "top decile drives X% of revenue" inequality readout.
    Decimal sums end-to-end (window cumsum over 10 rows is exact);
    the only double is the final share division. One hash-agg on
    custkey + one 10-row window — scale-safe."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    dec = rev.select(
        "r",
        F.ntile(10)
        .over(Window.orderBy("r", "o_custkey"))
        .alias("decile"),
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("r").alias("decile_revenue"),
    )
    wcum = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    cum = per.select(
        "decile",
        "customers",
        "decile_revenue",
        F.sum("decile_revenue").over(wcum).alias("c"),
        F.sum("decile_revenue").over(wall).alias("t"),
    )
    return cum.select(
        "decile",
        F.col("customers").cast("bigint").alias("customers"),
        F.col("decile_revenue").cast("decimal(38,2)").alias("decile_revenue"),
        F.round(
            F.col("c").cast("double") / F.col("t").cast("double"), 6
        ).alias("cum_revenue_share"),
    ).orderBy("decile")


@register(
    "dft_dow_harmonics",
    oracle="""
    WITH daily AS (
      SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             COUNT(*) AS n
      FROM orders GROUP BY 1),
    v AS (
      SELECT list(struct_pack(dow := dow, n := n) ORDER BY dow) AS xs
      FROM daily),
    hk AS (SELECT unnest([1, 2, 3]) AS k),
    co AS (
      SELECT hk.k, v.xs,
             CASE hk.k WHEN 1 THEN [1.000000000000000e+00, 6.234898018587340e-01, -2.225209339563140e-01, -9.009688679024190e-01, -9.009688679024190e-01, -2.225209339563150e-01, 6.234898018587330e-01]
             WHEN 2 THEN [1.000000000000000e+00, -2.225209339563140e-01, -9.009688679024190e-01, 6.234898018587330e-01, 6.234898018587340e-01, -9.009688679024190e-01, -2.225209339563150e-01]
             ELSE [1.000000000000000e+00, -9.009688679024190e-01, 6.234898018587330e-01, -2.225209339563140e-01, -2.225209339563150e-01, 6.234898018587350e-01, -9.009688679024190e-01] END AS c,
             CASE hk.k WHEN 1 THEN [0.000000000000000e+00, 7.818314824680300e-01, 9.749279121818240e-01, 4.338837391175580e-01, -4.338837391175580e-01, -9.749279121818240e-01, -7.818314824680300e-01]
             WHEN 2 THEN [0.000000000000000e+00, 9.749279121818240e-01, -4.338837391175580e-01, -7.818314824680300e-01, 7.818314824680300e-01, 4.338837391175580e-01, -9.749279121818240e-01]
             ELSE [0.000000000000000e+00, 4.338837391175580e-01, -7.818314824680300e-01, 9.749279121818240e-01, -9.749279121818240e-01, 7.818314824680280e-01, -4.338837391175580e-01] END AS s
      FROM hk, v),
    terms AS (
      SELECT k, xs,
             list_reduce(list_transform(xs,
               x -> CAST(x.n AS DOUBLE) * c[x.dow + 1]),
               (a, b) -> a + b) AS ak,
             list_reduce(list_transform(xs,
               x -> CAST(x.n AS DOUBLE) * s[x.dow + 1]),
               (a, b) -> a + b) AS bk
      FROM co)
    SELECT k AS harmonic, ROUND(ak, 6) AS a_k, ROUND(bk, 6) AS b_k,
           ROUND(CAST(2 AS DOUBLE) * SQRT(ak * ak + bk * bk)
                 / CAST(7 AS DOUBLE), 6) AS amplitude
    FROM terms ORDER BY harmonic
    """,
)
def dft_dow_harmonics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fourier transform of the day-of-week order-count
    profile: a_k = SUM x_d cos(2pi k d/7), b_k = SUM x_d sin(2pi k d/7)
    for harmonics k=1..3, with the reconstruction amplitude
    2*sqrt(a^2+b^2)/7 — the spectral reading of weekly seasonality
    that orders_dow_seasonality reports in the time domain. The 42
    cos/sin coefficients are PINNED double literals shared verbatim by
    both engines (e-notation in the oracle so SQL parses them as
    DOUBLE, never DECIMAL): trig portability without trusting two
    libms to round cos() identically. The 7-point series folds in dow
    order (sorted collect_list), so the float accumulation order is
    deterministic; the heavy lifting is a single 7-group count."""
    orders = _t(spark, sf_dir, "orders")
    CS = {1: [1.0, 0.623489801858734, -0.222520933956314, -0.900968867902419, -0.900968867902419, -0.222520933956315, 0.623489801858733],
          2: [1.0, -0.222520933956314, -0.900968867902419, 0.623489801858733, 0.623489801858734, -0.900968867902419, -0.222520933956315],
          3: [1.0, -0.900968867902419, 0.623489801858733, -0.222520933956314, -0.222520933956315, 0.623489801858735, -0.900968867902419]}
    SN = {1: [0.0, 0.78183148246803, 0.974927912181824, 0.433883739117558, -0.433883739117558, -0.974927912181824, -0.78183148246803],
          2: [0.0, 0.974927912181824, -0.433883739117558, -0.78183148246803, 0.78183148246803, 0.433883739117558, -0.974927912181824],
          3: [0.0, 0.433883739117558, -0.78183148246803, 0.974927912181824, -0.974927912181824, 0.781831482468028, -0.433883739117558]}
    daily = orders.groupBy(
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    v = daily.agg(
        F.array_sort(F.collect_list(F.struct("dow", "n"))).alias("xs")
    )
    ks = v.select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"), "xs"
    )
    arr = lambda xs: F.array(*[F.lit(float(x)) for x in xs])  # noqa: E731
    c = (
        F.when(F.col("k") == 1, arr(CS[1]))
        .when(F.col("k") == 2, arr(CS[2]))
        .otherwise(arr(CS[3]))
    )
    s = (
        F.when(F.col("k") == 1, arr(SN[1]))
        .when(F.col("k") == 2, arr(SN[2]))
        .otherwise(arr(SN[3]))
    )
    zero = F.lit(0.0).cast("double")
    fold = lambda coef: F.aggregate(  # noqa: E731
        F.transform(
            "xs",
            lambda x: x["n"].cast("double")
            * F.element_at(coef, x["dow"] + 1),
        ),
        zero,
        lambda a, t: a + t,
    )
    terms = ks.select("k", fold(c).alias("ak"), fold(s).alias("bk"))
    return terms.select(
        F.col("k").alias("harmonic"),
        F.round("ak", 6).alias("a_k"),
        F.round("bk", 6).alias("b_k"),
        F.round(
            F.lit(2).cast("double")
            * F.sqrt(F.col("ak") * F.col("ak") + F.col("bk") * F.col("bk"))
            / F.lit(7).cast("double"),
            6,
        ).alias("amplitude"),
    ).orderBy("harmonic")


@register(
    "precision_recall_at_k",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             event_type
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL),
    train AS (
      SELECT item, COUNT(*) AS n FROM ev
      WHERE ts < TIMESTAMP '2024-07-01 00:00:00'
      GROUP BY item),
    top10 AS (
      SELECT item FROM train
      ORDER BY n DESC, item LIMIT 10),
    test AS (
      SELECT DISTINCT user_id, item FROM ev
      WHERE ts >= TIMESTAMP '2024-07-01 00:00:00'
        AND event_type = 'purchase'),
    per_user AS (
      SELECT t.user_id,
             COUNT(*) AS n_rel,
             SUM(CASE WHEN p.item IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM test t LEFT JOIN top10 p ON t.item = p.item
      GROUP BY t.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(n_rel) AS BIGINT) AS total_relevant,
           ROUND(CAST(SUM(hits) AS DOUBLE)
                 / CAST(10 * COUNT(*) AS DOUBLE), 6) AS precision_at_10,
           ROUND(CAST(SUM(hits) AS DOUBLE)
                 / CAST(SUM(n_rel) AS DOUBLE), 6) AS recall_at_10,
           ROUND(CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hit_rate_at_10
    FROM per_user
    """,
)
def precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation with a temporal split: train on
    all interactions before 2024-07-01, recommend the global top-10
    most-popular items (deterministic (count desc, item) tiebreak),
    and score against each user's held-out post-cutoff purchases —
    micro-averaged precision@10, recall@10, and hit-rate@10. The
    micro (pooled-count) averaging is deliberate: hits and relevants
    sum as exact integers with one division at the end, so the metric
    is bit-stable and needs no per-user float fold — the same
    formulation that scales to a 100 TB interaction log (popularity
    table is a broadcast-sized dimension; the only shuffle is the
    per-user test aggregate)."""
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
            "event_type",
        )
        .filter(F.col("item").isNotNull())
    )
    cutoff = F.lit("2024-07-01 00:00:00").cast("timestamp")
    top10 = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "item")
        .limit(10)
        .select("item")
    )
    test = (
        ev.filter(
            (F.col("ts") >= cutoff) & (F.col("event_type") == "purchase")
        )
        .select("user_id", "item")
        .distinct()
    )
    per_user = (
        test.join(
            F.broadcast(top10.withColumn("hit", F.lit(1))), "item", "left"
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rel"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("n_rel").cast("bigint").alias("total_relevant"),
        F.round(
            d(F.sum("hits")) / d(F.lit(10) * F.count(F.lit(1))), 6
        ).alias("precision_at_10"),
        F.round(d(F.sum("hits")) / d(F.sum("n_rel")), 6).alias(
            "recall_at_10"
        ),
        F.round(
            d(F.sum(F.when(F.col("hits") > 0, 1).otherwise(0)))
            / d(F.count(F.lit(1))),
            6,
        ).alias("hit_rate_at_10"),
    )


@register(
    "mmd_quadratic_drift",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS gx,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    counts AS (
      SELECT SUM(gx) AS n, SUM(1 - gx) AS m FROM q),
    cells AS (
      SELECT gx, a, b, qv[a] * qv[b] AS p
      FROM q,
           (SELECT unnest(range(1, 65)) AS a),
           (SELECT unnest(range(1, 65)) AS b)),
    smat AS (
      SELECT a, b,
             SUM(CASE WHEN gx = 1 THEN p ELSE 0 END) AS sx,
             SUM(CASE WHEN gx = 0 THEN p ELSE 0 END) AS sy
      FROM cells GROUP BY a, b),
    moments AS (
      SELECT SUM(CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0))) AS ax,
             SUM(CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))) AS by_,
             SUM(CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))) AS cxy
      FROM smat),
    comb AS (
      SELECT CAST(ax AS HUGEINT) AS A, CAST(by_ AS HUGEINT) AS B,
             CAST(cxy AS HUGEINT) AS C, n, m
      FROM moments, counts),
    terms AS (
      SELECT n, m, A, B, C,
             CAST(A // (n * n) AS DOUBLE)
               + CAST(A % (n * n) AS DOUBLE) / CAST(n * n AS DOUBLE) AS t1,
             CAST(B // (m * m) AS DOUBLE)
               + CAST(B % (m * m) AS DOUBLE) / CAST(m * m AS DOUBLE) AS t2,
             CAST(C // (n * m) AS DOUBLE)
               + CAST(C % (n * m) AS DOUBLE) / CAST(n * m AS DOUBLE) AS t3
      FROM comb)
    SELECT CAST(n AS BIGINT) AS n_x, CAST(m AS BIGINT) AS n_y,
           CAST(A AS VARCHAR) AS moment_xx,
           CAST(B AS VARCHAR) AS moment_yy,
           CAST(C AS VARCHAR) AS moment_xy,
           ROUND(t1 + t2 - CAST(2 AS DOUBLE) * t3, 6) AS mmd2_quadratic
    FROM terms
    """,
)
def mmd_quadratic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum mean discrepancy between two embedding populations
    (labels 0-4 vs 5-9) under the quadratic kernel k(u,v) = (u.v)^2,
    WITHOUT the O(n^2) kernel matrix: for a polynomial kernel,
    sum_{x,x'} (x.x')^2 = ||S||_F^2 where S = sum_x x x^T, so one
    linear pass builds each group's 64x64 second-moment matrix and
    MMD^2 = ||Sx||^2/n^2 + ||Sy||^2/m^2 - 2<Sx,Sy>/nm falls out of
    4096-row folds — the distribution-shift test that scales to 100 TB
    because its cost is rows x d^2, not rows^2. Embeddings use the
    engine's exact integer quantization (see quantize_for_kmeans), the
    Frobenius moments are exact decimals, and each moment/count^2 term
    is split div/mod so every decimal->double cast stays under 2^53
    (the int128-vs-BigDecimal 1-ULP trap). Exact moments are also
    emitted as strings for evidence."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("gx"),
        F.expr(
            "transform(embedding, x -> GREATEST(CAST(ROUND(CAST(x AS "
            "DOUBLE) * 64, 0) AS INT) + 128, 0))"
        ).alias("qv"),
    )
    q = op_cache.track(q.cache())
    counts = q.agg(
        F.sum("gx").alias("n"), F.sum(1 - F.col("gx")).alias("m")
    )
    cells = (
        q.select("gx", F.explode(F.sequence(F.lit(1), F.lit(64))).alias("a"), "qv")
        .select(
            "gx",
            "a",
            F.explode(F.sequence(F.lit(1), F.lit(64))).alias("b"),
            (
                F.element_at("qv", F.col("a"))
                * F.element_at("qv", F.col("b"))
            ).alias("p"),
        )
    )
    smat = cells.groupBy("a", "b").agg(
        F.sum(F.when(F.col("gx") == 1, F.col("p")).otherwise(0)).alias("sx"),
        F.sum(F.when(F.col("gx") == 0, F.col("p")).otherwise(0)).alias("sy"),
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    moments = smat.agg(
        F.sum(dec("sx") * dec("sx")).alias("A"),
        F.sum(dec("sy") * dec("sy")).alias("B"),
        F.sum(dec("sx") * dec("sy")).alias("C"),
    )
    comb = moments.crossJoin(F.broadcast(counts))
    term = lambda mom, den: F.expr(  # noqa: E731
        f"CAST({mom} div {den} AS DOUBLE)"
        f" + CAST({mom} % {den} AS DOUBLE) / CAST({den} AS DOUBLE)"
    )
    return comb.select(
        F.col("n").cast("bigint").alias("n_x"),
        F.col("m").cast("bigint").alias("n_y"),
        F.col("A").cast("decimal(38,0)").cast("string").alias("moment_xx"),
        F.col("B").cast("decimal(38,0)").cast("string").alias("moment_yy"),
        F.col("C").cast("decimal(38,0)").cast("string").alias("moment_xy"),
        F.round(
            term("A", "(n * n)")
            + term("B", "(m * m)")
            - F.lit(2).cast("double") * term("C", "(n * m)"),
            6,
        ).alias("mmd2_quadratic"),
    )


@register(
    "mcc_confusion_metrics",
    oracle="""
    WITH pred AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
                       > CAST(150000 AS DECIMAL(18,2))
                  THEN 1 ELSE 0 END AS yhat
      FROM orders),
    cm AS (
      SELECT SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS tn
      FROM pred)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
             AS precision_,
           ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
             AS recall_,
           ROUND(CAST(2 * tp AS DOUBLE)
                 / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1,
           ROUND((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                  + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE))
                 / CAST(2 AS DOUBLE), 6) AS balanced_accuracy,
           ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
                 / SQRT((CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE))
                        * (CAST(tn + fp AS DOUBLE)
                           * CAST(tn + fn AS DOUBLE))), 6) AS mcc
    FROM cm
    """,
)
def mcc_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full binary-classifier evaluation card for the rule "price >
    150k predicts urgent priority": exact-integer confusion matrix in
    one pass, then precision, recall, F1, balanced accuracy, and the
    Matthews correlation coefficient — the chance-corrected metric
    that stays honest under class imbalance (complements roc_auc_rank,
    which evaluates the score; this evaluates a thresholded decision).
    All counts are exact BIGINTs; the MCC denominator's product of
    four marginals overflows int64 at scale, so each factor converts
    to an (exact, < 2^53) double and the product is parenthesized
    identically in both engines — bit-stable without int128. One
    shuffle-free map + a single global fold."""
    orders = _t(spark, sf_dir, "orders")
    pred = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
        F.when(
            F.col("o_totalprice").cast("decimal(18,2)")
            > F.lit(150000).cast("decimal(18,2)"),
            1,
        )
        .otherwise(0)
        .alias("yhat"),
    )
    c = lambda y, yh: F.sum(  # noqa: E731
        F.when((F.col("y") == y) & (F.col("yhat") == yh), 1).otherwise(0)
    )
    cm = pred.agg(
        c(1, 1).alias("tp"),
        c(0, 1).alias("fp"),
        c(1, 0).alias("fn"),
        c(0, 0).alias("tn"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return cm.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        F.round(d(tp) / d(tp + fp), 6).alias("precision_"),
        F.round(d(tp) / d(tp + fn), 6).alias("recall_"),
        F.round(d(2 * tp) / d(2 * tp + fp + fn), 6).alias("f1"),
        F.round(
            (d(tp) / d(tp + fn) + d(tn) / d(tn + fp))
            / F.lit(2).cast("double"),
            6,
        ).alias("balanced_accuracy"),
        F.round(
            d(tp * tn - fp * fn)
            / F.sqrt(
                (d(tp + fp) * d(tp + fn)) * (d(tn + fp) * d(tn + fn))
            ),
            6,
        ).alias("mcc"),
    )


@register(
    "count_min_sketch_events",
    oracle="""
    WITH items AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL),
    rows_ AS (SELECT unnest(range(0, 4)) AS j),
    hashed AS (
      SELECT r.j, i.item,
             CAST('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':'
                                  || CAST(i.item AS VARCHAR)), 1, 15)
                  AS BIGINT) % 64 AS bucket
      FROM items i, rows_ r),
    cells AS (
      SELECT j, bucket, COUNT(*) AS c FROM hashed GROUP BY j, bucket),
    truth AS (
      SELECT item, COUNT(*) AS true_count FROM items GROUP BY item
      ORDER BY true_count DESC, item LIMIT 10),
    probes AS (
      SELECT t.item, t.true_count, r.j,
             CAST('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':'
                                  || CAST(t.item AS VARCHAR)), 1, 15)
                  AS BIGINT) % 64 AS bucket
      FROM truth t, rows_ r),
    est AS (
      SELECT p.item, p.true_count, MIN(c.c) AS cms_estimate
      FROM probes p JOIN cells c
        ON p.j = c.j AND p.bucket = c.bucket
      GROUP BY p.item, p.true_count)
    SELECT item, CAST(true_count AS BIGINT) AS true_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - true_count AS BIGINT) AS overestimate
    FROM est ORDER BY true_count DESC, item
    """,
)
def count_min_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (4 rows x 64 buckets, md5-portable hashes) over
    the event item stream, probed at the 10 true heavy hitters: the
    mergeable fixed-memory frequency sketch that completes the engine's
    sketch family (HLL for cardinality, Misra-Gries for top-k, Bloom
    for membership, KLL-style for quantiles — CMS for point frequency).
    The sketch build is a single groupBy over (row, bucket) — 256 cells
    of state regardless of stream size, and cells merge by addition so
    a 100 TB build is one map-side-combined pass. CMS never
    underestimates: the emitted overestimate column is the collision
    error the epsilon = e/w bound caps. Exact integers end to end."""
    ev = _t(spark, sf_dir, "events")
    items = ev.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item")
    ).filter(F.col("item").isNotNull())
    items = op_cache.track(items.cache())
    rows_ = spark.range(4).select(F.col("id").cast("int").alias("j"))

    def bucket(jcol, itemcol):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            jcol.cast("string"),
                            F.lit(":"),
                            itemcol.cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 64
        )

    hashed = items.crossJoin(F.broadcast(rows_)).select(
        "j", bucket(F.col("j"), F.col("item")).alias("bucket")
    )
    cells = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    truth = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), "item")
        .limit(10)
    )
    probes = truth.crossJoin(F.broadcast(rows_)).select(
        "item",
        "true_count",
        "j",
        bucket(F.col("j"), F.col("item")).alias("bucket"),
    )
    est = (
        probes.join(cells, ["j", "bucket"])
        .groupBy("item", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "item",
        F.col("true_count").cast("bigint").alias("true_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count"))
        .cast("bigint")
        .alias("overestimate"),
    ).orderBy(F.col("true_count").desc(), "item")


@register(
    "levenshtein_blocked_matches",
    oracle="""
    WITH b AS (
      SELECT p_partkey, p_brand, p_size, lower(p_name) AS nm
      FROM part)
    SELECT a.p_partkey AS key_a, c.p_partkey AS key_b,
           a.p_brand AS brand,
           CAST(levenshtein(a.nm, c.nm) AS BIGINT) AS edit_distance
    FROM b a JOIN b c
      ON a.p_size = c.p_size AND a.p_partkey < c.p_partkey
    WHERE levenshtein(a.nm, c.nm) <= 2
    ORDER BY key_a, key_b
    """,
    require_rows=True,
)
def levenshtein_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record matching with blocking: candidate part pairs share
    a size blocking key — the Fellegi-Sunter-style move that
    turns an infeasible all-pairs comparison into sum(block^2) work —
    then exact Levenshtein edit distance (a JVM builtin on both
    engines, no Python in the loop) keeps pairs within 2 edits: the
    typo/variant-detection primitive of entity resolution and catalog
    dedup. At 100 TB the blocking key IS the shuffle key (one hash
    exchange, AQE splits skewed blocks); edit distance runs post-join
    on co-located rows. Complements the token-set dedup family
    (Jaccard/MinHash) with a character-level matcher.

    Blocking is p_size alone (round-9 vacuity fix): the original
    (brand, size) compound key scatters the sf0.001 catalog's 200 parts
    so thin that NO block holds a ≤2-edit pair even at a ≤4 cutoff —
    the gate passed 0==0. Size-only blocks return 14/1080 pairs at
    sf0.001/0.01 while keeping the sum(block²) cost story intact."""
    part = _t(spark, sf_dir, "part")
    b = part.select(
        "p_partkey", "p_brand", "p_size", F.lower(F.col("p_name")).alias("nm")
    )
    b = op_cache.track(b.cache())
    a, c = b.alias("a"), b.alias("c")
    joined = a.join(
        c,
        (F.col("a.p_size") == F.col("c.p_size"))
        & (F.col("a.p_partkey") < F.col("c.p_partkey")),
    )
    return (
        joined.select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("c.p_partkey").alias("key_b"),
            F.col("a.p_brand").alias("brand"),
            F.levenshtein(F.col("a.nm"), F.col("c.nm"))
            .cast("bigint")
            .alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 2)
        .orderBy("key_a", "key_b")
    )


@register(
    "iptw_stratified_ate",
    oracle="""
    WITH y AS (
      SELECT c.c_custkey, c.c_nationkey AS h,
             CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS t,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                           CAST(0 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS yv
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3),
    strata AS (
      SELECT h, COUNT(*) AS nh, SUM(t) AS th,
             SUM(CASE WHEN t = 1 THEN yv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS s1,
             SUM(CASE WHEN t = 0 THEN yv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS s0
      FROM y GROUP BY h),
    used AS (
      SELECT h, nh, th,
             CAST(s1 AS DOUBLE) / CAST(th AS DOUBLE)
               - CAST(s0 AS DOUBLE) / CAST(nh - th AS DOUBLE) AS eff
      FROM strata WHERE th > 0 AND nh - th > 0),
    fold AS (
      SELECT COUNT(*) AS n_strata, SUM(nh) AS nn,
             list_reduce(list(eff * CAST(nh AS DOUBLE) ORDER BY h),
                         (a, b) -> a + b) AS num
      FROM used),
    naive AS (
      SELECT SUM(CASE WHEN t = 1 THEN yv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS a1,
             SUM(t) AS c1,
             SUM(CASE WHEN t = 0 THEN yv
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS a0,
             SUM(1 - t) AS c0,
             COUNT(*) AS n
      FROM y)
    SELECT CAST(naive.n AS BIGINT) AS n_customers,
           CAST(fold.n_strata AS BIGINT) AS n_strata_used,
           ROUND(CAST(naive.a1 AS DOUBLE) / CAST(naive.c1 AS DOUBLE)
                 - CAST(naive.a0 AS DOUBLE) / CAST(naive.c0 AS DOUBLE), 4)
             AS naive_diff,
           ROUND(fold.num / CAST(fold.nn AS DOUBLE), 4) AS ate_stratified
    FROM fold, naive
    """,
)
def iptw_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect of the AUTOMOBILE market segment on
    customer lifetime spend, adjusted for nation via stratified
    inverse-propensity weighting (with stratum-level propensities
    t_h/n_h, IPTW collapses to the classic stratified estimator:
    sum_h (ybar1_h - ybar0_h) * n_h/N over strata holding both arms) —
    shown next to the naive unadjusted difference, the
    confounding-vs-adjustment contrast that completes the causal
    family (DiD, RDD, QTE, uplift). Per-stratum outcome sums are exact
    decimals; the 25-stratum combination folds in nation order so the
    double accumulation is pinned. Two hash-aggs and a 25-row fold —
    scale-free."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(18,2)")
    y = (
        cust.join(
            orders.select("o_custkey", "o_totalprice"),
            cust.c_custkey == F.col("o_custkey"),
            "left",
        )
        .groupBy(
            "c_custkey",
            F.col("c_nationkey").alias("h"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
            .otherwise(0)
            .alias("t"),
        )
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), zero
            )
            .cast("decimal(18,2)")
            .alias("yv")
        )
    )
    y = op_cache.track(y.cache())
    strata = y.groupBy("h").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("t").alias("th"),
        F.sum(F.when(F.col("t") == 1, F.col("yv")).otherwise(zero)).alias("s1"),
        F.sum(F.when(F.col("t") == 0, F.col("yv")).otherwise(zero)).alias("s0"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    used = strata.filter(
        (F.col("th") > 0) & (F.col("nh") - F.col("th") > 0)
    ).select(
        "h",
        "nh",
        (
            d(F.col("s1")) / d(F.col("th"))
            - d(F.col("s0")) / d(F.col("nh") - F.col("th"))
        ).alias("eff"),
    )
    fold = used.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("nh").alias("nn"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("h"), (F.col("eff") * d(F.col("nh"))).alias("w"))
                )
            ),
            F.lit(0.0).cast("double"),
            lambda a, e: a + e["w"],
        ).alias("num"),
    )
    naive = y.agg(
        F.sum(F.when(F.col("t") == 1, F.col("yv")).otherwise(zero)).alias("a1"),
        F.sum("t").alias("c1"),
        F.sum(F.when(F.col("t") == 0, F.col("yv")).otherwise(zero)).alias("a0"),
        F.sum(1 - F.col("t")).alias("c0"),
        F.count(F.lit(1)).alias("n"),
    )
    return fold.crossJoin(F.broadcast(naive)).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("n_strata").cast("bigint").alias("n_strata_used"),
        F.round(
            d(F.col("a1")) / d(F.col("c1")) - d(F.col("a0")) / d(F.col("c0")),
            4,
        ).alias("naive_diff"),
        F.round(F.col("num") / d(F.col("nn")), 4).alias("ate_stratified"),
    )


@register(
    "croston_intermittent_demand",
    oracle="""
    WITH demand AS (
      SELECT CAST(l.l_shipdate AS DATE) AS day,
             SUM(CAST(l.l_quantity AS BIGINT)) AS x
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#23'
      GROUP BY 1),
    gapped AS (
      SELECT day, x,
             COALESCE(day - LAG(day) OVER (ORDER BY day), 0) AS g
      FROM demand),
    evs AS (
      SELECT list([CAST(x AS DOUBLE), CAST(g AS DOUBLE),
                   CAST(0 AS DOUBLE)] ORDER BY day) AS xs,
             COUNT(*) AS n, MAX(day) AS last_day
      FROM gapped),
    folded AS (
      SELECT n, last_day,
             list_reduce(xs, (a, b) ->
               [(a[1] + b[1]) * 5e-1,
                CASE WHEN a[3] = CAST(0 AS DOUBLE) THEN b[2]
                     ELSE (a[2] + b[2]) * 5e-1 END,
                CAST(1 AS DOUBLE)]) AS acc
      FROM evs)
    SELECT CAST(n AS BIGINT) AS n_demand_days,
           CAST(last_day AS DATE) AS last_demand_day,
           ROUND(acc[1], 6) AS croston_size,
           ROUND(acc[2], 6) AS croston_interval,
           ROUND(acc[1] / acc[2], 6) AS demand_rate_forecast
    FROM folded
    """,
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (Brand#23 daily ship
    quantities): two coupled exponential smoothers, one over non-zero
    demand SIZES and one over the INTERVALS between demand days, with
    the forecast being their ratio — the standard slow-mover
    forecasting technique that plain EWMA/Holt get wrong because zeros
    aren't observations of low demand, just absence. alpha = 0.5 keeps
    every smoothing step an exact double halving; the interval
    smoother seeds from the FIRST observed gap (flag in the
    accumulator) and the fold runs over the day-ordered event list, so
    the recurrence is bit-reproducible. Distribution shape: a daily
    hash-agg, one lag window, one ordered fold — per-SKU Croston at
    100 TB is the same plan grouped by partkey."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    demand = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("x"))
    )
    w = Window.orderBy("day")
    gapped = demand.select(
        "day",
        "x",
        F.coalesce(F.datediff("day", F.lag("day").over(w)), F.lit(0)).alias(
            "g"
        ),
    )
    evs = gapped.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, "
            "CAST(x AS DOUBLE) AS x, CAST(g AS DOUBLE) AS g))), "
            "s -> array(s.x, s.g, CAST(0 AS DOUBLE)))"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n"),
        F.max("day").alias("last_day"),
    )
    folded = evs.select(
        "n",
        "last_day",
        F.expr(
            "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), xs[0], "
            "(a, b) -> array("
            "(a[0] + b[0]) * CAST(0.5 AS DOUBLE), "
            "CASE WHEN a[2] = CAST(0 AS DOUBLE) THEN b[1] "
            "ELSE (a[1] + b[1]) * CAST(0.5 AS DOUBLE) END, "
            "CAST(1 AS DOUBLE)))"
        ).alias("acc"),
    )
    return folded.select(
        F.col("n").cast("bigint").alias("n_demand_days"),
        F.col("last_day").cast("date").alias("last_demand_day"),
        F.round(F.element_at("acc", 1), 6).alias("croston_size"),
        F.round(F.element_at("acc", 2), 6).alias("croston_interval"),
        F.round(
            F.element_at("acc", 1) / F.element_at("acc", 2), 6
        ).alias("demand_rate_forecast"),
    )


@register(
    "ips_offline_policy_value",
    oracle="""
    WITH logged AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             CAST(value AS DECIMAL(18,4)) AS r
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL),
    tot AS (
      SELECT COUNT(*) AS n,
             SUM(r) AS sum_r
      FROM logged),
    per AS (
      SELECT item, COUNT(*) AS na, SUM(r) AS sa
      FROM logged GROUP BY item),
    top5 AS (
      SELECT item, na, sa FROM per ORDER BY na DESC, item LIMIT 5),
    fold AS (
      SELECT list_reduce(
               list(CAST(sa AS DOUBLE) / CAST(5 * na AS DOUBLE)
                    ORDER BY item),
               (a, b) -> a + b) AS ips
      FROM top5)
    SELECT CAST(tot.n AS BIGINT) AS n_logged,
           ROUND(CAST(tot.sum_r AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
             AS logging_policy_value,
           ROUND(fold.ips, 6) AS ips_target_value
    FROM tot, fold
    """,
)
def ips_offline_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-scored offline policy evaluation: estimate
    what a NEW recommendation policy (uniform over the 5 most-logged
    items) would earn per impression, using only the logged event
    stream — the counterfactual estimator (Horvitz-Thompson / IPS)
    behind every "would this ranker have done better" analysis, no
    online test needed. Because the weight pi_t/pi_l is constant within
    an action, IPS reduces to per-action exact-decimal reward sums
    scaled by N/(5*n_a) — so the only floats are 5 divisions folded in
    item order, and the estimate is bit-stable. One hash-agg over the
    log + a 5-row fold: the same plan at 100 TB impressions. Shown
    against the logging policy's realized value for the uplift read."""
    ev = _t(spark, sf_dir, "events")
    logged = ev.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        F.col("value").cast("decimal(18,4)").alias("r"),
    ).filter(F.col("item").isNotNull())
    logged = op_cache.track(logged.cache())
    tot = logged.agg(
        F.count(F.lit(1)).alias("n"), F.sum("r").alias("sum_r")
    )
    per = logged.groupBy("item").agg(
        F.count(F.lit(1)).alias("na"), F.sum("r").alias("sa")
    )
    top5 = per.orderBy(F.col("na").desc(), "item").limit(5)
    fold = top5.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "item",
                        (
                            F.col("sa").cast("double")
                            / (F.lit(5) * F.col("na")).cast("double")
                        ).alias("c"),
                    )
                )
            ),
            F.lit(0.0).cast("double"),
            lambda a, e: a + e["c"],
        ).alias("ips")
    )
    return tot.crossJoin(F.broadcast(fold)).select(
        F.col("n").cast("bigint").alias("n_logged"),
        F.round(
            F.col("sum_r").cast("double") / F.col("n").cast("double"), 6
        ).alias("logging_policy_value"),
        F.round("ips", 6).alias("ips_target_value"),
    )


@register("granger_causality_daily", oracle=_GRANGER_SQL)
def granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality test: does yesterday's ORDER COUNT predict
    today's revenue beyond what yesterday's revenue already does?
    Restricted AR(1) model y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1}
    + x_{t-1}, compared by the F statistic (RSS_r - RSS_u)(n-3)/RSS_u —
    the lead-lag analysis upgraded to a proper nested-model test.
    Revenue is rescaled to thousands as an exact decimal shift so every
    moment sum stays under 2^53 after its ROUND, and the closed-form
    normal-equation solve is the SAME SQL text in both engines
    (the _OLS_SQL portability trick, plus LAG windows). Distribution
    shape: daily hash-agg, one lag window over days, one moment fold."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GRANGER_SQL)


@register(
    "hurst_rescaled_range",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS y
      FROM orders GROUP BY 1),
    seq AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
    sized AS (
      SELECT s.y, s.t, bs.bs,
             (s.t - 1) // bs.bs AS blk,
             (s.t - 1) % bs.bs + 1 AS i
      FROM seq s, (SELECT unnest([16, 32, 64, 128]) AS bs) bs),
    pref AS (
      SELECT bs, blk, i, y,
             SUM(y) OVER (PARTITION BY bs, blk ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             SUM(y) OVER (PARTITION BY bs, blk) AS tt,
             COUNT(*) OVER (PARTITION BY bs, blk) AS nb
      FROM sized),
    dev AS (
      SELECT bs, blk, y, tt,
             bs * p - i * tt AS d
      FROM pref WHERE nb = bs),
    per_block AS (
      SELECT bs, blk,
             MAX(d) - MIN(d) AS r_scaled,
             SUM(y * y) AS ssq,
             MAX(tt) AS tot
      FROM dev GROUP BY bs, blk),
    rs AS (
      SELECT bs, blk,
             (CAST(r_scaled AS DOUBLE) / CAST(bs * bs AS DOUBLE))
             / SQRT(CAST(bs * ssq - tot * tot AS DOUBLE)
                    / CAST(bs * (bs - 1) AS DOUBLE)) AS v
      FROM per_block),
    avg_rs AS (
      SELECT bs,
             list_reduce(list(v ORDER BY blk), (a, b) -> a + b)
               / CAST(COUNT(*) AS DOUBLE) AS m
      FROM rs GROUP BY bs),
    wide AS (
      SELECT MAX(CASE WHEN bs = 16 THEN m END) AS m16,
             MAX(CASE WHEN bs = 32 THEN m END) AS m32,
             MAX(CASE WHEN bs = 64 THEN m END) AS m64,
             MAX(CASE WHEN bs = 128 THEN m END) AS m128
      FROM avg_rs),
    n AS (SELECT COUNT(*) AS n_days FROM seq)
    SELECT CAST(n.n_days AS BIGINT) AS n_days,
           ROUND(w.m16, 6) AS rs_16, ROUND(w.m32, 6) AS rs_32,
           ROUND(w.m64, 6) AS rs_64, ROUND(w.m128, 6) AS rs_128,
           ROUND((CAST(-1.5 AS DOUBLE) * LN(w.m16)
                  + CAST(-0.5 AS DOUBLE) * LN(w.m32)
                  + CAST(0.5 AS DOUBLE) * LN(w.m64)
                  + CAST(1.5 AS DOUBLE) * LN(w.m128))
                 / (CAST(5 AS DOUBLE) * 6.931471805599453e-1), 6)
             AS hurst_exponent
    FROM wide w, n
    """,
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily order-count series by classical
    rescaled-range (R/S) analysis at block sizes 16/32/64/128: H > 0.5
    means long-range persistence, H ~ 0.5 a memoryless series — the
    long-memory diagnostic behind capacity planning on bursty traffic.
    Within each block the range of cumulative deviations is computed
    SCALED BY THE BLOCK SIZE (D_i = n*P_i - i*T), so R and the variance
    numerator n*sum(y^2) - T^2 stay exact integers; doubles appear only
    in each block's final R/S ratio. Because block sizes are powers of
    two, the log-log regression collapses to a closed form with ln(2)
    as a PINNED literal — the only engine transcendental is LN of the
    four averaged R/S values. Block averages fold in block order.
    Shape: one daily agg, two windows, one 4-row pivot."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    seq = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    bs_df = spark.createDataFrame(
        [(16,), (32,), (64,), (128,)], ["bs"]
    )
    sized = seq.crossJoin(F.broadcast(bs_df)).select(
        "y",
        "bs",
        F.expr("(t - 1) div bs").alias("blk"),
        F.expr("(t - 1) % bs + 1").alias("i"),
    )
    wblk = Window.partitionBy("bs", "blk")
    wpre = wblk.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = sized.select(
        "bs",
        "blk",
        "i",
        "y",
        F.sum("y").over(wpre).alias("p"),
        F.sum("y").over(wblk).alias("tt"),
        F.count(F.lit(1)).over(wblk).alias("nb"),
    )
    dev = pref.filter(F.col("nb") == F.col("bs")).select(
        "bs",
        "blk",
        "y",
        "tt",
        (F.col("bs") * F.col("p") - F.col("i") * F.col("tt")).alias("d"),
    )
    per_block = dev.groupBy("bs", "blk").agg(
        (F.max("d") - F.min("d")).alias("r_scaled"),
        F.sum(F.col("y") * F.col("y")).alias("ssq"),
        F.max("tt").alias("tot"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    rs = per_block.select(
        "bs",
        "blk",
        (
            (d(F.col("r_scaled")) / d(F.col("bs") * F.col("bs")))
            / F.sqrt(
                d(F.col("bs") * F.col("ssq") - F.col("tot") * F.col("tot"))
                / d(F.col("bs") * (F.col("bs") - 1))
            )
        ).alias("v"),
    )
    avg_rs = rs.groupBy("bs").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("blk", "v"))),
                F.lit(0.0).cast("double"),
                lambda a, e: a + e["v"],
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    wide = avg_rs.agg(
        F.max(F.when(F.col("bs") == 16, F.col("m"))).alias("m16"),
        F.max(F.when(F.col("bs") == 32, F.col("m"))).alias("m32"),
        F.max(F.when(F.col("bs") == 64, F.col("m"))).alias("m64"),
        F.max(F.when(F.col("bs") == 128, F.col("m"))).alias("m128"),
    )
    n = seq.agg(F.count(F.lit(1)).alias("n_days"))
    ln2 = F.lit(0.6931471805599453).cast("double")
    return wide.crossJoin(F.broadcast(n)).select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("m16", 6).alias("rs_16"),
        F.round("m32", 6).alias("rs_32"),
        F.round("m64", 6).alias("rs_64"),
        F.round("m128", 6).alias("rs_128"),
        F.round(
            (
                F.lit(-1.5).cast("double") * F.log("m16")
                + F.lit(-0.5).cast("double") * F.log("m32")
                + F.lit(0.5).cast("double") * F.log("m64")
                + F.lit(1.5).cast("double") * F.log("m128")
            )
            / (F.lit(5).cast("double") * ln2),
            6,
        ).alias("hurst_exponent"),
    )


# --- round-4 classical hypothesis-test battery -----------------------------
# Rank tests are computed from VALUE HISTOGRAMS, not row-level sort ranks:
# l_quantity has 50 distinct values, so average ranks come from a 50-row
# prefix-sum window and every rank sum is an exact BIGINT (2*avg_rank is an
# integer). That is also the 100 TB shape — no global row sort, just a
# hash-agg to the value histogram.


@register(
    "kruskal_wallis_h",
    oracle="""
    WITH cnt AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS c
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT q, c,
             2 * COALESCE(SUM(c) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS avg2
      FROM cnt),
    gv AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2),
    grp AS (
      SELECT gv.g, SUM(gv.n) AS ng, SUM(gv.n * r.avg2) AS s2
      FROM gv JOIN ranked r ON gv.q = r.q GROUP BY gv.g),
    tot AS (
      SELECT SUM(ng) AS n, COUNT(*) AS k,
             list_reduce(
               list(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                    / CAST(4 * ng AS DOUBLE) ORDER BY g),
               (a, b) -> a + b) AS t
      FROM grp),
    ties AS (SELECT SUM(c * c * c - c) AS tie FROM cnt),
    h AS (
      SELECT tot.n, tot.k,
             CAST(12 AS DOUBLE) / (CAST(tot.n AS DOUBLE)
               * CAST(tot.n + 1 AS DOUBLE)) * tot.t
             - CAST(3 AS DOUBLE) * CAST(tot.n + 1 AS DOUBLE) AS h_raw,
             CAST(1 AS DOUBLE) - CAST(ties.tie AS DOUBLE)
               / CAST(tot.n * tot.n * tot.n - tot.n AS DOUBLE) AS c_tie
      FROM tot, ties)
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(k AS INT) AS n_groups,
           ROUND(h_raw, 6) AS h_stat,
           ROUND(h_raw / c_tie, 6) AS h_tie_adjusted,
           ROUND(h_raw / c_tie / CAST(n - 1 AS DOUBLE), 6) AS epsilon_sq
    FROM h
    """,
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (rank ANOVA) of l_quantity across the three
    l_returnflag populations, with the exact tie correction — the
    distribution-free answer to "do these groups differ in location".
    Average ranks are derived from the 50-bucket value histogram
    (2*avg_rank = 2*prefix + count + 1 stays integer), so per-group rank
    sums are exact BIGINTs and no global sort ever happens — two
    hash-aggs and a 50-row window regardless of table size. The three
    per-group H terms fold in group order as doubles; epsilon-squared is
    the matching effect size."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    # the 50-row value histogram feeds BOTH the rank window and the tie
    # aggregate — materialize once so the lineitem scan behind it runs
    # once, not twice
    cnt = _mat(li.groupBy("q").agg(F.count(F.lit(1)).alias("c")))
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    ranked = cnt.select(
        "q",
        "c",
        (2 * F.coalesce(F.sum("c").over(wq), F.lit(0)) + F.col("c") + 1).alias(
            "avg2"
        ),
    )
    gv = li.groupBy("g", "q").agg(F.count(F.lit(1)).alias("n"))
    grp = (
        gv.join(F.broadcast(ranked), "q")
        .groupBy("g")
        .agg(
            F.sum("n").alias("ng"),
            F.sum(F.col("n") * F.col("avg2")).alias("s2"),
        )
    )
    d = lambda e: e.cast("double")  # noqa: E731
    tot = grp.agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "g",
                            (
                                d(F.col("s2")) * d(F.col("s2"))
                                / d(4 * F.col("ng"))
                            ).alias("term"),
                        )
                    )
                ),
                lambda s: s["term"],
            ),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ).alias("t"),
    )
    ties = cnt.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie")
    )
    h = tot.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        (
            F.lit(12).cast("double") / (d(F.col("n")) * d(F.col("n") + 1))
            * F.col("t")
            - F.lit(3).cast("double") * d(F.col("n") + 1)
        ).alias("h_raw"),
        (
            F.lit(1).cast("double")
            - d(F.col("tie"))
            / d(F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        ).alias("c_tie"),
    )
    return h.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.round("h_raw", 6).alias("h_stat"),
        F.round(F.col("h_raw") / F.col("c_tie"), 6).alias("h_tie_adjusted"),
        F.round(
            F.col("h_raw") / F.col("c_tie") / d(F.col("n") - 1), 6
        ).alias("epsilon_sq"),
    )


@register(
    "welch_t_test_priority",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS g, COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS s,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                            * CAST(o_totalprice AS DECIMAL(18,2))), 0)
                  AS DOUBLE) AS ssq
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN g = '1-URGENT' THEN n END) AS na,
             MAX(CASE WHEN g = '1-URGENT' THEN s END) AS sa,
             MAX(CASE WHEN g = '1-URGENT' THEN ssq END) AS qa,
             MAX(CASE WHEN g = '5-LOW' THEN n END) AS nb,
             MAX(CASE WHEN g = '5-LOW' THEN s END) AS sb,
             MAX(CASE WHEN g = '5-LOW' THEN ssq END) AS qb
      FROM m),
    v AS (
      SELECT na, nb,
             sa / CAST(na AS DOUBLE) AS ma, sb / CAST(nb AS DOUBLE) AS mb,
             (qa - sa * sa / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)
               AS va,
             (qb - sb * sb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)
               AS vb
      FROM w),
    t AS (
      SELECT na, nb, ma, mb, va, vb,
             va / CAST(na AS DOUBLE) AS ea, vb / CAST(nb AS DOUBLE) AS eb
      FROM v)
    SELECT CAST(na AS BIGINT) AS n_urgent,
           CAST(nb AS BIGINT) AS n_low,
           ROUND(ma - mb, 4) AS mean_diff,
           ROUND((ma - mb) / SQRT(ea + eb), 6) AS welch_t,
           ROUND((ea + eb) * (ea + eb)
                 / (ea * ea / CAST(na - 1 AS DOUBLE)
                    + eb * eb / CAST(nb - 1 AS DOUBLE)), 4) AS welch_df,
           ROUND((ma - mb)
                 / SQRT((CAST(na - 1 AS DOUBLE) * va
                         + CAST(nb - 1 AS DOUBLE) * vb)
                        / CAST(na + nb - 2 AS DOUBLE)), 6) AS cohens_d
    FROM t
    """,
)
def welch_t_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: URGENT vs LOW priority order
    totals, with the Welch-Satterthwaite degrees of freedom and Cohen's d
    on the pooled scale. Moments are exact decimal sums (the square sum
    is ROUNDed to integer dollars-squared before the double cast so the
    scaled value stays under 2^53 — the decimal->double portability
    rule); everything after is scalar double arithmetic in pinned order.
    Shape: one filtered hash-agg, then a 2-row pivot."""
    d = lambda e: e.cast("double")  # noqa: E731
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    m = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec), 2).cast("double").alias("s"),
            F.round(F.sum(dec * dec), 0).cast("double").alias("ssq"),
        )
    )
    pick = lambda g, c: F.max(F.when(F.col("g") == g, F.col(c)))  # noqa: E731
    w = m.agg(
        pick("1-URGENT", "n").alias("na"),
        pick("1-URGENT", "s").alias("sa"),
        pick("1-URGENT", "ssq").alias("qa"),
        pick("5-LOW", "n").alias("nb"),
        pick("5-LOW", "s").alias("sb"),
        pick("5-LOW", "ssq").alias("qb"),
    )
    v = w.select(
        "na",
        "nb",
        (F.col("sa") / d(F.col("na"))).alias("ma"),
        (F.col("sb") / d(F.col("nb"))).alias("mb"),
        (
            (F.col("qa") - F.col("sa") * F.col("sa") / d(F.col("na")))
            / d(F.col("na") - 1)
        ).alias("va"),
        (
            (F.col("qb") - F.col("sb") * F.col("sb") / d(F.col("nb")))
            / d(F.col("nb") - 1)
        ).alias("vb"),
    )
    t = v.select(
        "na",
        "nb",
        "ma",
        "mb",
        "va",
        "vb",
        (F.col("va") / d(F.col("na"))).alias("ea"),
        (F.col("vb") / d(F.col("nb"))).alias("eb"),
    )
    return t.select(
        F.col("na").cast("bigint").alias("n_urgent"),
        F.col("nb").cast("bigint").alias("n_low"),
        F.round(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
        F.round(
            (F.col("ma") - F.col("mb")) / F.sqrt(F.col("ea") + F.col("eb")), 6
        ).alias("welch_t"),
        F.round(
            (F.col("ea") + F.col("eb")) * (F.col("ea") + F.col("eb"))
            / (
                F.col("ea") * F.col("ea") / d(F.col("na") - 1)
                + F.col("eb") * F.col("eb") / d(F.col("nb") - 1)
            ),
            4,
        ).alias("welch_df"),
        F.round(
            (F.col("ma") - F.col("mb"))
            / F.sqrt(
                (
                    d(F.col("na") - 1) * F.col("va")
                    + d(F.col("nb") - 1) * F.col("vb")
                )
                / d(F.col("na") + F.col("nb") - 2)
            ),
            6,
        ).alias("cohens_d"),
    )


@register(
    "jonckheere_terpstra_trend",
    oracle="""
    WITH cells AS (
      SELECT o.o_orderpriority AS p, CAST(l.l_quantity AS BIGINT) AS q,
             COUNT(*) AS n
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    u AS (
      SELECT SUM(CASE WHEN a.q < b.q THEN 2 * a.n * b.n
                      WHEN a.q = b.q THEN a.n * b.n
                      ELSE 0 END) AS u2
      FROM cells a JOIN cells b ON a.p < b.p),
    grp AS (SELECT p, SUM(n) AS ng FROM cells GROUP BY p),
    mo AS (
      SELECT SUM(ng) AS n, SUM(ng * ng) AS sn2,
             SUM(ng * ng * (2 * ng + 3)) AS sn3
      FROM grp),
    z AS (
      SELECT u.u2, mo.n,
             CAST(mo.n * mo.n - mo.sn2 AS DOUBLE) / CAST(2 AS DOUBLE)
               AS mean2,
             (CAST(mo.n * mo.n AS DOUBLE)
                * CAST(2 * mo.n + 3 AS DOUBLE)
              - CAST(mo.sn3 AS DOUBLE)) / CAST(72 AS DOUBLE) AS var_u
      FROM u, mo)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(u2 AS BIGINT) AS jt_2u,
           ROUND(mean2, 1) AS jt_2mean,
           ROUND((CAST(u2 AS DOUBLE) - mean2)
                 / (CAST(2 AS DOUBLE) * SQRT(var_u)), 6) AS jt_z
    FROM z
    """,
)
def jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend in line quantity
    across the five order-priority levels (1-URGENT < ... < 5-LOW) — the
    rank test to reach for when the alternative is monotone, where
    Kruskal-Wallis wastes power. The pairwise Mann-Whitney counts come
    from the (priority x quantity) contingency cells (5x50 rows), so the
    between-group comparison is a tiny broadcast cell self-join, never a
    row-level cross join; 2U stays an exact BIGINT with ties counted
    once. z uses the classical null moments. Shape: one fact join +
    hash-agg to 250 cells, then constant-size arithmetic."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    cells = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("p"), "q")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cells.alias("a")
    b = cells.alias("b")
    u = (
        a.join(F.broadcast(b), F.col("a.p") < F.col("b.p"))
        .select(
            F.when(
                F.col("a.q") < F.col("b.q"),
                2 * F.col("a.n") * F.col("b.n"),
            )
            .when(F.col("a.q") == F.col("b.q"), F.col("a.n") * F.col("b.n"))
            .otherwise(F.lit(0))
            .alias("c")
        )
        .agg(F.sum("c").alias("u2"))
    )
    grp = cells.groupBy("p").agg(F.sum("n").alias("ng"))
    mo = grp.agg(
        F.sum("ng").alias("n"),
        F.sum(F.col("ng") * F.col("ng")).alias("sn2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3)).alias("sn3"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    z = u.crossJoin(F.broadcast(mo)).select(
        "u2",
        "n",
        (d(F.col("n") * F.col("n") - F.col("sn2")) / F.lit(2).cast("double"))
        .alias("mean2"),
        (
            (
                d(F.col("n") * F.col("n")) * d(2 * F.col("n") + 3)
                - d(F.col("sn3"))
            )
            / F.lit(72).cast("double")
        ).alias("var_u"),
    )
    return z.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("u2").cast("bigint").alias("jt_2u"),
        F.round("mean2", 1).alias("jt_2mean"),
        F.round(
            (d(F.col("u2")) - F.col("mean2"))
            / (F.lit(2).cast("double") * F.sqrt(F.col("var_u"))),
            6,
        ).alias("jt_z"),
    )


@register(
    "cochran_q_event_types",
    oracle="""
    WITH k AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
    cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT user_id, SUM(c) AS t FROM cnt GROUP BY 1),
    x AS (
      SELECT cnt.user_id, cnt.event_type
      FROM cnt JOIN tot ON cnt.user_id = tot.user_id, k
      WHERE k.k * cnt.c > tot.t),
    r AS (SELECT user_id, COUNT(*) AS r FROM x GROUP BY 1),
    c AS (SELECT event_type, COUNT(*) AS c FROM x GROUP BY 1),
    s AS (
      SELECT (SELECT COUNT(*) FROM r) AS n_users,
             (SELECT SUM(r) FROM r) AS t,
             (SELECT SUM(r * r) FROM r) AS sr2,
             (SELECT SUM(c * c) FROM c) AS sc2,
             (SELECT k FROM k) AS k)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(k AS INT) AS k_treatments,
           CAST(k - 1 AS INT) AS df,
           ROUND(CAST((k - 1) * (k * sc2 - t * t) AS DOUBLE)
                 / CAST(k * t - sr2 AS DOUBLE), 6) AS cochran_q
    FROM s
    """,
)
def cochran_q_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test over a users x event-types binary matrix: the
    response is "type t is OVER-represented for user u" (k*c_ut exceeds
    the user's total count — integer comparison, no division), each user
    a block. Mere presence saturates (every user touches all 5 types),
    which degenerates Q; over-representation can never be all-ones within
    a block, so the denominator sum R(k-R) stays positive. Q =
    (k-1)(k*sum(Cj^2) - T^2) / (k*T - sum(Ri^2)) — the all-integer form:
    every moment is an exact BIGINT and the only doubles are the final
    division. n_users counts informative blocks (R >= 1). Shape: two
    hash-aggs + a per-user join, no row-level sorts."""
    ev = _t(spark, sf_dir, "events")
    # k is consumed twice (the over-representation filter and the final
    # projection) and each build would re-scan events; cnt feeds tot AND
    # the join; x feeds both marginal aggregates. Materializing the three
    # bounded frames (1 row / users×types / ≤users×types) keeps every
    # events-scale pass single (guide §1.2).
    k = _mat(ev.agg(F.countDistinct("event_type").alias("k")))
    cnt = _mat(
        ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("t"))
    x = _mat(
        cnt.join(tot, "user_id")
        .crossJoin(F.broadcast(k))
        .filter(F.col("k") * F.col("c") > F.col("t"))
        .select("user_id", "event_type")
    )
    r = x.groupBy("user_id").agg(F.count(F.lit(1)).alias("r"))
    c = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    rm = r.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("r").alias("t"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
    )
    cm = c.agg(F.sum(F.col("c") * F.col("c")).alias("sc2"))
    s = rm.crossJoin(F.broadcast(cm)).crossJoin(F.broadcast(k))
    return s.select(
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("k").cast("int").alias("k_treatments"),
        (F.col("k") - 1).cast("int").alias("df"),
        F.round(
            (
                (F.col("k") - 1)
                * (F.col("k") * F.col("sc2") - F.col("t") * F.col("t"))
            ).cast("double")
            / (F.col("k") * F.col("t") - F.col("sr2")).cast("double"),
            6,
        ).alias("cochran_q"),
    )


@register(
    "fleiss_kappa_returnflag",
    oracle="""
    WITH sized AS (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) = 4),
    nij AS (
      SELECT l.l_orderkey AS item, l.l_returnflag AS cat, COUNT(*) AS n
      FROM lineitem l JOIN sized s ON l.l_orderkey = s.l_orderkey
      GROUP BY 1, 2),
    per_item AS (
      SELECT item, SUM(n * n) AS ssq FROM nij GROUP BY item),
    agree AS (
      SELECT COUNT(*) AS n_items, SUM(ssq - 4) AS num FROM per_item),
    cats AS (SELECT cat, SUM(n) AS cj FROM nij GROUP BY cat),
    pe AS (
      SELECT list_reduce(
               list(CAST(cj AS DOUBLE) * CAST(cj AS DOUBLE) ORDER BY cat),
               (a, b) -> a + b) AS sum_cj2
      FROM cats),
    f AS (
      SELECT a.n_items,
             CAST(a.num AS DOUBLE) / CAST(12 * a.n_items AS DOUBLE) AS pbar,
             pe.sum_cj2 / (CAST(4 * a.n_items AS DOUBLE)
                           * CAST(4 * a.n_items AS DOUBLE)) AS pexp
      FROM agree a, pe)
    SELECT CAST(n_items AS BIGINT) AS n_items,
           ROUND(pbar, 6) AS observed_agreement,
           ROUND(pexp, 6) AS expected_agreement,
           ROUND((pbar - pexp) / (CAST(1 AS DOUBLE) - pexp), 6)
             AS fleiss_kappa
    FROM f
    """,
)
def fleiss_kappa_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for multi-rater agreement: orders with exactly four
    line items are the subjects, the four lines are interchangeable
    raters, and l_returnflag is the 3-way category each rater assigns —
    how much do lines of one order agree on return status beyond chance?
    Per-item agreement P_i = (sum n_ij^2 - n)/(n(n-1)) with n=4 keeps the
    numerator an exact BIGINT; the chance term folds the three squared
    category shares in category order. Shape: two hash-aggs over the
    fact table (size filter, then item x category counts) — no sorts, no
    row-level joins beyond the key semi-join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    sized = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 4)
        .select("l_orderkey")
    )
    nij = (
        li.join(sized, "l_orderkey")
        .groupBy(
            F.col("l_orderkey").alias("item"),
            F.col("l_returnflag").alias("cat"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_item = nij.groupBy("item").agg(
        F.sum(F.col("n") * F.col("n")).alias("ssq")
    )
    agree = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("ssq") - 4).alias("num"),
    )
    cats = nij.groupBy("cat").agg(F.sum("n").alias("cj"))
    d = lambda e: e.cast("double")  # noqa: E731
    pe = cats.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "cat", (d(F.col("cj")) * d(F.col("cj"))).alias("v")
                        )
                    )
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ).alias("sum_cj2")
    )
    f = agree.crossJoin(F.broadcast(pe)).select(
        "n_items",
        (d(F.col("num")) / d(12 * F.col("n_items"))).alias("pbar"),
        (
            F.col("sum_cj2")
            / (d(4 * F.col("n_items")) * d(4 * F.col("n_items")))
        ).alias("pexp"),
    )
    return f.select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.round("pbar", 6).alias("observed_agreement"),
        F.round("pexp", 6).alias("expected_agreement"),
        F.round(
            (F.col("pbar") - F.col("pexp"))
            / (F.lit(1).cast("double") - F.col("pexp")),
            6,
        ).alias("fleiss_kappa"),
    )


@register(
    "kalman_local_level_filter",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS x
      FROM orders GROUP BY 1),
    series AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM daily),
    kal(i, l, p, se) AS (
      SELECT 1, x, CAST(100000000 AS DOUBLE), CAST(0 AS DOUBLE)
      FROM series WHERE i = 1
      UNION ALL
      SELECT s.i,
             k.l + ((k.p + CAST(1000000 AS DOUBLE))
                    / ((k.p + CAST(1000000 AS DOUBLE))
                       + CAST(100000000 AS DOUBLE))) * (s.x - k.l),
             (CAST(1 AS DOUBLE)
              - ((k.p + CAST(1000000 AS DOUBLE))
                 / ((k.p + CAST(1000000 AS DOUBLE))
                    + CAST(100000000 AS DOUBLE))))
             * (k.p + CAST(1000000 AS DOUBLE)),
             k.se + (s.x - k.l) * (s.x - k.l)
      FROM kal k JOIN series s ON s.i = k.i + 1)
    SELECT CAST(i AS BIGINT) AS n_days,
           ROUND(l, 4) AS filtered_level,
           ROUND(p, 6) AS state_variance,
           ROUND((p + CAST(1000000 AS DOUBLE))
                 / ((p + CAST(1000000 AS DOUBLE))
                    + CAST(100000000 AS DOUBLE)), 6) AS steady_gain,
           ROUND(SQRT(se / CAST(i - 1 AS DOUBLE)), 4) AS innovation_rmse
    FROM kal ORDER BY i DESC LIMIT 1
    """,
)
def kalman_local_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter for the local-level (random-walk + noise) model over
    the daily revenue series: state noise q=1e6, observation noise r=1e8,
    initialized at the first observation with P0=r. Each step is the
    classic predict/update pair (P'=P+q, K=P'/(P'+r), l+=K*innovation)
    written as ONE expression text shared verbatim between the Spark
    aggregate() fold and the oracle's recursive CTE, so every double op
    matches bit-for-bit. The distributed part is the daily decimal
    hash-agg; the fold runs over the days-sized array. Reports the final
    filtered level, state variance, (near-steady-state) gain, and the
    one-step innovation RMSE."""
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
    state = (
        "named_struct('l', element_at(xs, 1), "
        "'p', CAST(100000000 AS DOUBLE), "
        "'se', CAST(0 AS DOUBLE), 'n', CAST(1 AS BIGINT))"
    )
    step = (
        "(acc, x) -> named_struct("
        "'l', acc.l + ((acc.p + CAST(1000000 AS DOUBLE)) / ((acc.p + CAST(1000000 AS DOUBLE)) + CAST(100000000 AS DOUBLE))) * (x - acc.l), "
        "'p', (CAST(1 AS DOUBLE) - ((acc.p + CAST(1000000 AS DOUBLE)) / ((acc.p + CAST(1000000 AS DOUBLE)) + CAST(100000000 AS DOUBLE)))) * (acc.p + CAST(1000000 AS DOUBLE)), "
        "'se', acc.se + (x - acc.l) * (x - acc.l), "
        "'n', acc.n + 1)"
    )
    return arr.select(
        F.expr(f"aggregate(slice(xs, 2, size(xs) - 1), {state}, {step})").alias(
            "k"
        )
    ).select(
        F.col("k.n").alias("n_days"),
        F.round("k.l", 4).alias("filtered_level"),
        F.round("k.p", 6).alias("state_variance"),
        F.round(
            F.expr(
                "(k.p + CAST(1000000 AS DOUBLE)) / ((k.p + CAST(1000000 AS DOUBLE)) + CAST(100000000 AS DOUBLE))"
            ),
            6,
        ).alias("steady_gain"),
        F.round(
            F.sqrt(F.col("k.se") / F.expr("CAST(k.n - 1 AS DOUBLE)")), 4
        ).alias("innovation_rmse"),
    )


@register(
    "holt_winters_additive",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY 1),
    series AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i,
             CAST(c AS DOUBLE) AS x
      FROM daily),
    init AS (
      SELECT list_reduce(list(x ORDER BY i), (a, b) -> a + b)
               / CAST(7 AS DOUBLE) AS m0
      FROM series WHERE i <= 7),
    hw(i, l, b, s) AS (
      SELECT 7, init.m0, CAST(0 AS DOUBLE),
             (SELECT list(series.x - init.m0 ORDER BY series.i)
              FROM series, init WHERE series.i <= 7)
      FROM init
      UNION ALL
      SELECT s2.i,
             CAST(0.5 AS DOUBLE) * (s2.x - h.s[CAST(h.i % 7 AS INT) + 1])
               + CAST(0.5 AS DOUBLE) * (h.l + h.b),
             CAST(0.25 AS DOUBLE)
               * ((CAST(0.5 AS DOUBLE)
                     * (s2.x - h.s[CAST(h.i % 7 AS INT) + 1])
                   + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
               + CAST(0.75 AS DOUBLE) * h.b,
             list_transform([1, 2, 3, 4, 5, 6, 7],
               j -> CASE WHEN j = CAST(h.i % 7 AS INT) + 1 THEN
                      CAST(0.25 AS DOUBLE)
                        * (s2.x
                           - (CAST(0.5 AS DOUBLE)
                                * (s2.x - h.s[CAST(h.i % 7 AS INT) + 1])
                              + CAST(0.5 AS DOUBLE) * (h.l + h.b)))
                      + CAST(0.75 AS DOUBLE) * h.s[CAST(h.i % 7 AS INT) + 1]
                    ELSE h.s[j] END)
      FROM hw h JOIN series s2 ON s2.i = h.i + 1)
    SELECT CAST(i AS BIGINT) AS n_days,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(l + b + s[CAST(i % 7 AS INT) + 1], 6) AS forecast_next,
           ROUND(list_reduce(s, (a, v) -> a + v), 6) AS seasonal_sum
    FROM hw ORDER BY i DESC LIMIT 1
    """,
)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing of the daily
    order-count series with a weekly (m=7) season: level alpha=0.5,
    trend beta=0.25, seasonal gamma=0.25 — all binary-fraction
    coefficients so each smoothing step is the same exact double op in
    both engines. The level/trend/seasonal-vector state folds through
    aggregate() with a 7-slot array updated in place (transform by
    index), initialized from the first week's mean and deviations; the
    oracle replays the identical recurrence with a recursive CTE over a
    LIST column. Distribution shape: one daily hash-agg, then a
    days-sized driver-free fold — the series length is calendar-bounded,
    not data-bounded, at any scale factor."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "x"))), lambda s: s["x"]
        ).alias("xs")
    )
    pre = arr.select(
        "xs",
        F.expr(
            "aggregate(slice(xs, 1, 7), CAST(0 AS DOUBLE), (a, x) -> a + x)"
            " / CAST(7 AS DOUBLE)"
        ).alias("m0"),
    )
    lp = "element_at(acc.s, CAST(acc.n % 7 AS INT) + 1)"
    lnew = (
        f"CAST(0.5 AS DOUBLE) * (x - {lp})"
        " + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)"
    )
    state = (
        "named_struct('l', m0, 'b', CAST(0 AS DOUBLE), "
        "'s', transform(slice(xs, 1, 7), v -> v - m0), "
        "'n', CAST(7 AS BIGINT))"
    )
    step = (
        "(acc, x) -> named_struct("
        f"'l', {lnew}, "
        f"'b', CAST(0.25 AS DOUBLE) * (({lnew}) - acc.l)"
        " + CAST(0.75 AS DOUBLE) * acc.b, "
        "'s', transform(array(1, 2, 3, 4, 5, 6, 7), "
        "j -> CASE WHEN j = CAST(acc.n % 7 AS INT) + 1 THEN "
        f"CAST(0.25 AS DOUBLE) * (x - ({lnew}))"
        f" + CAST(0.75 AS DOUBLE) * {lp}"
        " ELSE element_at(acc.s, j) END), "
        "'n', acc.n + 1)"
    )
    return pre.select(
        F.expr(
            f"aggregate(slice(xs, 8, size(xs) - 7), {state}, {step})"
        ).alias("h")
    ).select(
        F.col("h.n").alias("n_days"),
        F.round("h.l", 6).alias("level"),
        F.round("h.b", 6).alias("trend"),
        F.round(
            F.expr("h.l + h.b + element_at(h.s, CAST(h.n % 7 AS INT) + 1)"), 6
        ).alias("forecast_next"),
        F.round(
            F.expr("aggregate(h.s, CAST(0 AS DOUBLE), (a, v) -> a + v)"), 6
        ).alias("seasonal_sum"),
    )


@register("pacf_durbin_levinson", oracle=_PACF_SQL)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function of the daily order-count series
    at lags 1-5 via the Durbin-Levinson recursion — the AR-order
    diagnostic (where the PACF cuts off is the AR(p) order) that
    complements the existing raw-autocorrelation query. Autocovariances
    come from exact BIGINT cross moments (sum x_t*x_{t+k} plus head/tail
    partial sums via LAG), so the mean correction and the unrolled
    5-level recursion are the only double arithmetic; the SAME SQL text
    runs on Spark SQL and DuckDB, making every op bit-identical.
    Shape: daily hash-agg, one 5-lag window pass, one moment fold —
    series length is calendar-bounded at any data scale."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_PACF_SQL)


@register(
    "nelson_aalen_cumhazard",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS purch_d,
             MAX(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY user_id),
    dur AS (
      SELECT CASE WHEN purch_d IS NOT NULL
                  THEN date_diff('day', first_d, purch_d)
                  ELSE date_diff('day', first_d, last_d) END AS t,
             CASE WHEN purch_d IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user),
    per_t AS (
      SELECT t, COUNT(*) AS n_at_t, SUM(ev) AS d_i FROM dur GROUP BY t),
    w AS (
      SELECT t, d_i,
             SUM(n_at_t) OVER (ORDER BY t DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_i
      FROM per_t),
    evt AS (SELECT t, d_i, n_i FROM w WHERE d_i > 0),
    arr AS (
      SELECT list(t ORDER BY t) AS ts_,
             list(d_i ORDER BY t) AS ds,
             list(n_i ORDER BY t) AS ns,
             list(CAST(d_i AS DOUBLE) / n_i ORDER BY t) AS hs,
             list(CAST(d_i AS DOUBLE)
                  / (CAST(n_i AS DOUBLE) * CAST(n_i AS DOUBLE))
                  ORDER BY t) AS vs
      FROM evt)
    SELECT CAST(ts_[j] AS INT) AS t_days,
           CAST(ds[j] AS BIGINT) AS n_events,
           CAST(ns[j] AS BIGINT) AS n_at_risk,
           ROUND(CAST(0 AS DOUBLE)
                 + list_reduce(hs[1:j], (a, b) -> a + b), 6)
             AS na_cumhazard,
           ROUND(EXP(CAST(0 AS DOUBLE)
                     - (CAST(0 AS DOUBLE)
                        + list_reduce(hs[1:j], (a, b) -> a + b))), 6)
             AS fh_survival,
           ROUND(SQRT(CAST(0 AS DOUBLE)
                      + list_reduce(vs[1:j], (a, b) -> a + b)), 6)
             AS hazard_se
    FROM arr, UNNEST(range(1, len(hs) + 1)) AS u(j)
    ORDER BY t_days
    """,
)
def nelson_aalen_cumhazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same
    time-to-first-purchase durations as the Kaplan-Meier query (users
    who never purchase are right-censored at last activity), plus the
    Fleming-Harrington survival exp(-H) and the Poisson-variance
    standard error sqrt(sum d/n^2) — the hazard-scale counterpart the
    KM curve can't give you (hazards ADD, so increments localize risk
    in time). Risk sets are integer window sums; the d/n increments
    fold left-to-right over a time-ordered array via prefix slices, so
    every float sum is sequence-pinned in both engines. Event-time-sized
    output, one per-user agg + one tiny window."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("purch_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    dur = per_user.select(
        F.when(
            F.col("purch_d").isNotNull(),
            F.datediff("purch_d", "first_d"),
        ).otherwise(F.datediff("last_d", "first_d")).alias("t"),
        F.when(F.col("purch_d").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    per_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at_t"), F.sum("ev").alias("d_i")
    )
    wrev = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_t.select(
        "t", "d_i", F.sum("n_at_t").over(wrev).alias("n_i")
    ).filter(F.col("d_i") > 0)
    packed = risk.agg(
        F.sort_array(F.collect_list(F.struct("t", "d_i", "n_i"))).alias("arr")
    ).select(
        "arr",
        F.expr(
            "transform(arr, s -> CAST(s.d_i AS DOUBLE) / s.n_i)"
        ).alias("hs"),
        F.expr(
            "transform(arr, s -> CAST(s.d_i AS DOUBLE)"
            " / (CAST(s.n_i AS DOUBLE) * CAST(s.n_i AS DOUBLE)))"
        ).alias("vs"),
    )
    ex = packed.select("hs", "vs", F.posexplode("arr").alias("j0", "s"))
    hsum = (
        "aggregate(slice(hs, 1, j0 + 1), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    vsum = (
        "aggregate(slice(vs, 1, j0 + 1), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    return ex.select(
        F.col("s.t").cast("int").alias("t_days"),
        F.col("s.d_i").cast("bigint").alias("n_events"),
        F.col("s.n_i").cast("bigint").alias("n_at_risk"),
        F.expr(f"round({hsum}, 6)").alias("na_cumhazard"),
        F.expr(f"round(exp(CAST(0 AS DOUBLE) - ({hsum})), 6)").alias(
            "fh_survival"
        ),
        F.expr(f"round(sqrt({vsum}), 6)").alias("hazard_se"),
    ).orderBy("t_days")


@register(
    "epsilon_greedy_bandit_replay",
    oracle="""
    WITH RECURSIVE
    typ AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS r
      FROM events
      WHERE event_type IN ('click', 'purchase', 'view')
      GROUP BY 1, 2),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    grid AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d.day) AS i,
             COALESCE(MAX(CASE WHEN t.event_type = 'click' THEN t.r END),
                      CAST(0 AS DOUBLE)) AS r1,
             COALESCE(MAX(CASE WHEN t.event_type = 'purchase' THEN t.r END),
                      CAST(0 AS DOUBLE)) AS r2,
             COALESCE(MAX(CASE WHEN t.event_type = 'view' THEN t.r END),
                      CAST(0 AS DOUBLE)) AS r3
      FROM days d LEFT JOIN typ t ON d.day = t.day
      GROUP BY d.day),
    pol(i, n1, n2, n3, s1, s2, s3, tot) AS (
      SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE)
      UNION ALL
      SELECT g.i,
             p.n1 + CASE WHEN arm = 1 THEN 1 ELSE 0 END,
             p.n2 + CASE WHEN arm = 2 THEN 1 ELSE 0 END,
             p.n3 + CASE WHEN arm = 3 THEN 1 ELSE 0 END,
             p.s1 + CASE WHEN arm = 1 THEN rc ELSE CAST(0 AS DOUBLE) END,
             p.s2 + CASE WHEN arm = 2 THEN rc ELSE CAST(0 AS DOUBLE) END,
             p.s3 + CASE WHEN arm = 3 THEN rc ELSE CAST(0 AS DOUBLE) END,
             p.tot + rc
      FROM pol p
      JOIN grid g ON g.i = p.i + 1,
      LATERAL (SELECT CASE WHEN g.i <= 3 THEN CAST(g.i AS INT)
                           WHEN g.i % 7 = 0 THEN CAST(g.i % 3 AS INT) + 1
                           WHEN p.s1 / p.n1 >= p.s2 / p.n2
                                AND p.s1 / p.n1 >= p.s3 / p.n3 THEN 1
                           WHEN p.s2 / p.n2 >= p.s3 / p.n3 THEN 2
                           ELSE 3 END AS arm) aa,
      LATERAL (SELECT CASE aa.arm WHEN 1 THEN g.r1 WHEN 2 THEN g.r2
                      ELSE g.r3 END AS rc) rr),
    hind AS (
      SELECT list_reduce(list(r1 ORDER BY i), (a, b) -> a + b) AS t1,
             list_reduce(list(r2 ORDER BY i), (a, b) -> a + b) AS t2,
             list_reduce(list(r3 ORDER BY i), (a, b) -> a + b) AS t3
      FROM grid),
    fin AS (SELECT * FROM pol ORDER BY i DESC LIMIT 1)
    SELECT CAST(f.i AS BIGINT) AS n_days,
           CAST(f.n1 AS BIGINT) AS pulls_click,
           CAST(f.n2 AS BIGINT) AS pulls_purchase,
           CAST(f.n3 AS BIGINT) AS pulls_view,
           ROUND(f.tot, 6) AS policy_reward,
           ROUND(GREATEST(h.t1, h.t2, h.t3), 6) AS best_fixed_reward,
           ROUND(GREATEST(h.t1, h.t2, h.t3) - f.tot, 6) AS regret
    FROM fin f, hind h
    """,
)
def epsilon_greedy_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epsilon-greedy bandit replayed over the daily
    reward stream (arms = click/purchase/view, reward = that day's mean
    event value): warm-start one pull per arm, explore round-robin every
    7th day, otherwise exploit the best running mean — then score the
    policy's cumulative reward against the best FIXED arm in hindsight
    (the regret every bandit paper reports). Exploration is
    schedule-driven, not RNG-driven, so the whole replay is a pure fold:
    Spark runs it as a constant-size aggregate() over the day-ordered
    array, the oracle as a recursive CTE with the identical arithmetic.
    Daily rewards come from exact decimal sums. Shape: one hash-agg to
    the day grid; the replay is days-sized, never event-sized."""
    ev = _t(spark, sf_dir, "events")
    typ = (
        ev.filter(F.col("event_type").isin("click", "purchase", "view"))
        .groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(
            (
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("r")
        )
    )
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    z = F.lit(0).cast("double")
    grid = (
        days.join(typ, "day", "left")
        .groupBy("day")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("event_type") == "click", F.col("r"))), z
            ).alias("r1"),
            F.coalesce(
                F.max(F.when(F.col("event_type") == "purchase", F.col("r"))),
                z,
            ).alias("r2"),
            F.coalesce(
                F.max(F.when(F.col("event_type") == "view", F.col("r"))), z
            ).alias("r3"),
        )
    )
    arr = grid.agg(
        F.sort_array(F.collect_list(F.struct("day", "r1", "r2", "r3"))).alias(
            "g"
        )
    )
    i_ = "(acc.i + 1)"
    arm = (
        f"(CASE WHEN {i_} <= 3 THEN CAST({i_} AS INT) "
        f"WHEN {i_} % 7 = 0 THEN CAST({i_} % 3 AS INT) + 1 "
        "WHEN acc.s1 / acc.n1 >= acc.s2 / acc.n2 "
        "AND acc.s1 / acc.n1 >= acc.s3 / acc.n3 THEN 1 "
        "WHEN acc.s2 / acc.n2 >= acc.s3 / acc.n3 THEN 2 ELSE 3 END)"
    )
    rc = f"(CASE {arm} WHEN 1 THEN x.r1 WHEN 2 THEN x.r2 ELSE x.r3 END)"
    state = (
        "named_struct('i', CAST(0 AS BIGINT), "
        "'n1', CAST(0 AS BIGINT), 'n2', CAST(0 AS BIGINT), "
        "'n3', CAST(0 AS BIGINT), 's1', CAST(0 AS DOUBLE), "
        "'s2', CAST(0 AS DOUBLE), 's3', CAST(0 AS DOUBLE), "
        "'tot', CAST(0 AS DOUBLE))"
    )
    step = (
        "(acc, x) -> named_struct("
        f"'i', {i_}, "
        f"'n1', acc.n1 + CASE WHEN {arm} = 1 THEN 1 ELSE 0 END, "
        f"'n2', acc.n2 + CASE WHEN {arm} = 2 THEN 1 ELSE 0 END, "
        f"'n3', acc.n3 + CASE WHEN {arm} = 3 THEN 1 ELSE 0 END, "
        f"'s1', acc.s1 + CASE WHEN {arm} = 1 THEN {rc} ELSE CAST(0 AS DOUBLE) END, "
        f"'s2', acc.s2 + CASE WHEN {arm} = 2 THEN {rc} ELSE CAST(0 AS DOUBLE) END, "
        f"'s3', acc.s3 + CASE WHEN {arm} = 3 THEN {rc} ELSE CAST(0 AS DOUBLE) END, "
        f"'tot', acc.tot + {rc})"
    )
    fold = lambda fld: F.expr(  # noqa: E731
        f"aggregate(transform(g, s -> s.{fld}), CAST(0 AS DOUBLE), "
        "(a, x) -> a + x)"
    )
    out = arr.select(
        F.expr(f"aggregate(g, {state}, {step})").alias("p"),
        fold("r1").alias("t1"),
        fold("r2").alias("t2"),
        fold("r3").alias("t3"),
    )
    best = F.greatest("t1", "t2", "t3")
    return out.select(
        F.col("p.i").cast("bigint").alias("n_days"),
        F.col("p.n1").cast("bigint").alias("pulls_click"),
        F.col("p.n2").cast("bigint").alias("pulls_purchase"),
        F.col("p.n3").cast("bigint").alias("pulls_view"),
        F.round("p.tot", 6).alias("policy_reward"),
        F.round(best, 6).alias("best_fixed_reward"),
        F.round(best - F.col("p.tot"), 6).alias("regret"),
    )


@register(
    "ams_f2_sketch",
    oracle="""
    WITH freq AS (
      SELECT user_id, COUNT(*) AS f FROM events GROUP BY user_id),
    sk AS (
      SELECT j.j,
             SUM(freq.f
                 * (2 * (CAST(concat('0x',
                          substring(md5(concat(CAST(freq.user_id AS VARCHAR),
                                               ':', CAST(j.j AS VARCHAR))),
                          1, 15)) AS BIGINT) % 2) - 1)) AS z
      FROM freq, (SELECT UNNEST(range(1, 33)) AS j) j
      GROUP BY j.j),
    grp AS (
      SELECT (j - 1) // 8 AS g, SUM(z * z) AS zz
      FROM sk GROUP BY 1),
    med AS (
      SELECT list_sort(list(CAST(zz AS DOUBLE) / CAST(8 AS DOUBLE))) AS ms
      FROM grp),
    est AS (
      SELECT (ms[2] + ms[3]) / CAST(2 AS DOUBLE) AS ams FROM med),
    ex AS (
      SELECT SUM(f * f) AS f2, COUNT(*) AS du, SUM(f) AS n FROM freq)
    SELECT CAST(ex.n AS BIGINT) AS n_events,
           CAST(ex.du AS BIGINT) AS distinct_users,
           CAST(ex.f2 AS BIGINT) AS exact_f2,
           ROUND(est.ams, 2) AS ams_estimate,
           ROUND((est.ams - CAST(ex.f2 AS DOUBLE))
                 / CAST(ex.f2 AS DOUBLE), 6) AS rel_error
    FROM ex, est
    """,
)
def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) sketch estimate of the second frequency
    moment F2 of the per-user event distribution — the self-join size /
    repeat-rate statistic — using 32 independent +/-1 hash projections
    (portable md5 parity), combined median-of-means over 4 groups of 8,
    judged against the exact F2. Every sketch counter Z_j = sum f_i *
    xi_j(i) is an exact BIGINT; the only doubles are the 4 group means
    and their median. The projections run over the per-user FREQUENCY
    table, not the raw events (algebraically identical, and the 100 TB
    shape: one hash-agg, then sketch work proportional to distinct
    keys x 32). Citation: AMS'96; the estimator in functions mirrors
    approx_count_distinct's role for F0."""
    freq = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    js = spark.range(1, 33).select(F.col("id").cast("int").alias("j"))
    h = (
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', "
        "CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    sk = (
        freq.crossJoin(F.broadcast(js))
        .select(
            "j", (F.col("f") * (2 * (F.expr(h) % 2) - 1)).alias("t")
        )
        .groupBy("j")
        .agg(F.sum("t").alias("z"))
    )
    grp = (
        sk.select(
            F.expr("(j - 1) div 8").alias("g"),
            (F.col("z") * F.col("z")).alias("zz"),
        )
        .groupBy("g")
        .agg(F.sum("zz").alias("zz"))
    )
    med = grp.agg(
        F.sort_array(
            F.collect_list(
                F.col("zz").cast("double") / F.lit(8).cast("double")
            )
        ).alias("ms")
    )
    est = med.select(
        (
            (F.element_at("ms", 2) + F.element_at("ms", 3))
            / F.lit(2).cast("double")
        ).alias("ams")
    )
    ex = freq.agg(
        F.sum(F.col("f") * F.col("f")).alias("f2"),
        F.count(F.lit(1)).alias("du"),
        F.sum("f").alias("n"),
    )
    return ex.crossJoin(F.broadcast(est)).select(
        F.col("n").cast("bigint").alias("n_events"),
        F.col("du").cast("bigint").alias("distinct_users"),
        F.col("f2").cast("bigint").alias("exact_f2"),
        F.round("ams", 2).alias("ams_estimate"),
        F.round(
            (F.col("ams") - F.col("f2").cast("double"))
            / F.col("f2").cast("double"),
            6,
        ).alias("rel_error"),
    )


@register(
    "ransac_line_fit",
    oracle="""
    WITH pts AS (
      SELECT o.o_orderkey AS ok, COUNT(*) AS x,
             CAST(ROUND(MAX(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS y
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey),
    hashed AS (
      SELECT k.k, pts.ok, pts.x, pts.y,
             concat(substring(md5(concat(CAST(pts.ok AS VARCHAR),
                    '#', CAST(k.k AS VARCHAR))), 1, 15), '-',
                    lpad(CAST(pts.ok AS VARCHAR), 12, '0')) AS h
      FROM pts, (SELECT UNNEST(range(1, 17)) AS k) k),
    picks AS (
      SELECT k,
             arg_min(x, h) AS xa, arg_min(y, h) AS ya,
             arg_max(x, h) AS xb, arg_max(y, h) AS yb
      FROM hashed GROUP BY k),
    models AS (
      SELECT k,
             (yb - ya) / CAST(xb - xa AS DOUBLE) AS b,
             ya - ((yb - ya) / CAST(xb - xa AS DOUBLE))
                  * CAST(xa AS DOUBLE) AS a
      FROM picks WHERE xa <> xb),
    scored AS (
      SELECT m.k, m.a, m.b, COUNT(*) AS inliers
      FROM models m JOIN pts
        ON ABS(pts.y - (m.a + m.b * CAST(pts.x AS DOUBLE)))
           < CAST(20000 AS DOUBLE)
      GROUP BY m.k, m.a, m.b),
    best AS (SELECT * FROM scored ORDER BY inliers DESC, k LIMIT 1),
    refit AS (
      SELECT best.k, best.b AS b0, best.inliers,
             COUNT(*) AS n_in, SUM(pts.x) AS sx,
             SUM(pts.x * pts.x) AS sxx,
             CAST(ROUND(SUM(CAST(pts.y AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sy,
             CAST(ROUND(SUM(CAST(pts.x AS DECIMAL(8,0))
                            * CAST(pts.y AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sxy
      FROM best JOIN pts
        ON ABS(pts.y - (best.a + best.b * CAST(pts.x AS DOUBLE)))
           < CAST(20000 AS DOUBLE)
      GROUP BY best.k, best.b, best.inliers),
    tot AS (SELECT COUNT(*) AS n FROM pts)
    SELECT CAST(r.k AS INT) AS best_candidate,
           CAST(r.inliers AS BIGINT) AS n_inliers,
           ROUND(CAST(r.inliers AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
             AS inlier_share,
           ROUND(r.b0, 4) AS ransac_slope,
           ROUND((CAST(r.n_in AS DOUBLE) * r.sxy - CAST(r.sx AS DOUBLE)
                  * r.sy)
                 / (CAST(r.n_in AS DOUBLE) * CAST(r.sxx AS DOUBLE)
                    - CAST(r.sx AS DOUBLE) * CAST(r.sx AS DOUBLE)), 4)
             AS refit_slope,
           ROUND((r.sy - ((CAST(r.n_in AS DOUBLE) * r.sxy
                           - CAST(r.sx AS DOUBLE) * r.sy)
                          / (CAST(r.n_in AS DOUBLE) * CAST(r.sxx AS DOUBLE)
                             - CAST(r.sx AS DOUBLE) * CAST(r.sx AS DOUBLE)))
                         * CAST(r.sx AS DOUBLE)) / CAST(r.n_in AS DOUBLE), 2)
             AS refit_intercept
    FROM refit r, tot t
    """,
)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit of order total price against line count:
    16 DETERMINISTIC candidate models (the sample pair for candidate k
    is the portable-md5 argmin/argmax over orders — reproducible
    "randomness", no RNG), each scored by inliers within a $20k
    residual band, then the winner refit by exact-decimal OLS on its
    inlier set. This is the estimator that shrugs off the heavy right
    tail a plain OLS would chase. Shape: one join + hash-agg for the
    point set, a 16-way hash sweep that reduces to 16 rows (arg_min/
    arg_max with a total (hash, key) order), one broadcast rescoring
    pass per the two stages — no quadratic work anywhere."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    # pts feeds FOUR consumers (hash sweep, score join, refit join, the
    # total count) — without materialization the orders⋈lineitem
    # aggregate runs four times per invocation (guide §1.2 step 1). The
    # explicit repartition spreads the downstream 16-way md5 sweep (the
    # query's dominant compute) across all cores: AQE coalesces the
    # small aggregate to ONE partition, and materializing that froze
    # the sweep single-threaded (guide §2.5 — input skew after a
    # coalesced intermediate).
    pts = _mat(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderkey").alias("ok"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.round(F.max(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("y"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ks = spark.range(1, 17).select(F.col("id").cast("int").alias("k"))
    h = (
        "concat(substring(md5(concat(CAST(ok AS STRING), '#', "
        "CAST(k AS STRING))), 1, 15), '-', "
        "lpad(CAST(ok AS STRING), 12, '0'))"
    )
    hashed = pts.crossJoin(F.broadcast(ks)).select(
        "k", "ok", "x", "y", F.expr(h).alias("h")
    )
    picks = hashed.groupBy("k").agg(
        F.min_by("x", F.col("h")).alias("xa"),
        F.min_by("y", F.col("h")).alias("ya"),
        F.max_by("x", F.col("h")).alias("xb"),
        F.max_by("y", F.col("h")).alias("yb"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    slope = (F.col("yb") - F.col("ya")) / d(F.col("xb") - F.col("xa"))
    models = picks.filter(F.col("xa") != F.col("xb")).select(
        "k",
        slope.alias("b"),
        (F.col("ya") - slope * d(F.col("xa"))).alias("a"),
    )
    resid_ok = (
        F.abs(
            F.col("y") - (F.col("a") + F.col("b") * d(F.col("x")))
        )
        < F.lit(20000).cast("double")
    )
    scored = (
        F.broadcast(models)
        .join(pts, resid_ok)
        .groupBy("k", "a", "b")
        .agg(F.count(F.lit(1)).alias("inliers"))
    )
    best = scored.orderBy(F.desc("inliers"), "k").limit(1)
    refit = (
        F.broadcast(best)
        .join(pts, resid_ok)
        .groupBy("k", "b", "inliers")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.round(F.sum(F.col("y").cast(_DEC)), 2)
            .cast("double")
            .alias("sy"),
            F.round(
                F.sum(
                    F.col("x").cast("decimal(8,0)")
                    * F.col("y").cast(_DEC)
                ),
                2,
            )
            .cast("double")
            .alias("sxy"),
        )
    )
    tot = pts.agg(F.count(F.lit(1)).alias("n"))
    rslope = (
        d(F.col("n_in")) * F.col("sxy") - d(F.col("sx")) * F.col("sy")
    ) / (
        d(F.col("n_in")) * d(F.col("sxx")) - d(F.col("sx")) * d(F.col("sx"))
    )
    return refit.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("int").alias("best_candidate"),
        F.col("inliers").cast("bigint").alias("n_inliers"),
        F.round(d(F.col("inliers")) / d(F.col("n")), 6).alias("inlier_share"),
        F.round(F.col("b"), 4).alias("ransac_slope"),
        F.round(rslope, 4).alias("refit_slope"),
        F.round(
            (F.col("sy") - rslope * d(F.col("sx"))) / d(F.col("n_in")), 2
        ).alias("refit_intercept"),
    )


@register("cox_proportional_hazards", oracle=_cox_oracle())
def cox_proportional_hazards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression (single covariate, Breslow
    tie handling) of time-to-first-purchase on log user activity —
    THE survival regression: does a more active user convert at a
    proportionally higher hazard, without assuming any baseline shape?
    Three Newton-Raphson steps on the partial likelihood, each a single
    fold over event times sorted by time DESCENDING so the risk-set
    sums S0/S1/S2 accumulate incrementally (never an O(n^2) risk-set
    join — the 100 TB shape is one per-user agg + a per-time pack).
    The score U and information I read the updated sums inline; both
    engines run the same generated arithmetic, the oracle using a LIST
    accumulator (DuckDB struct folds update in place — see the verify
    notes). Reports beta, the hazard ratio e^beta, the inverse-
    information SE and the Wald z."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("purch_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("cnt"),
    )
    subj = per_user.select(
        F.when(
            F.col("purch_d").isNotNull(), F.datediff("purch_d", "first_d")
        ).otherwise(F.datediff("last_d", "first_d")).alias("t"),
        F.when(F.col("purch_d").isNotNull(), 1).otherwise(0).alias("ev"),
        F.log(F.lit(1) + F.col("cnt")).alias("z"),
    )
    grp = subj.groupBy("t").agg(
        F.array_sort(F.collect_list("z")).alias("zs"),
        F.array_sort(
            F.collect_list(F.when(F.col("ev") == 1, F.col("z")))
        ).alias("zev"),
    )
    tl = grp.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-t AS tn, zs, zev))), "
            "s -> named_struct('zs', s.zs, 'zev', s.zev))"
        ).alias("tl")
    )
    cnts = subj.agg(
        F.count(F.lit(1)).alias("n_subj"), F.sum("ev").alias("n_ev")
    )
    se, sze, szze, szd = _cox_inner(
        lambda arr, body: (
            f"aggregate(transform({arr}, z -> {body}), "
            "CAST(0 AS DOUBLE), (a2, t2) -> a2 + t2)"
        ),
        "acc",
        lambda s: s,
    )
    inner = (
        "aggregate(transform(tl, r -> named_struct("
        f"'e1', {se}, 'e2', {sze}, 'e3', {szze}, 'e4', {szd}, "
        "'e5', CAST(size(r.zev) AS DOUBLE))), "
        "named_struct('s0', CAST(0 AS DOUBLE), 's1', CAST(0 AS DOUBLE), "
        "'s2', CAST(0 AS DOUBLE), 'u', CAST(0 AS DOUBLE), "
        "'i', CAST(0 AS DOUBLE)), "
        f"(a, x) -> named_struct({_COX_STEP_NUMERIC}))"
    )
    state = (
        "named_struct('b', CAST(0 AS DOUBLE), 'u', CAST(0 AS DOUBLE), "
        "'i', CAST(0 AS DOUBLE))"
    )
    step = (
        "(acc, it) -> named_struct("
        f"'b', acc.b + ({inner}).u / ({inner}).i, "
        f"'u', ({inner}).u, 'i', ({inner}).i)"
    )
    out = tl.crossJoin(F.broadcast(cnts)).select(
        "n_subj",
        "n_ev",
        F.expr(f"aggregate(sequence(1, 3), {state}, {step})").alias("x"),
    )
    return out.selectExpr(
        "CAST(n_subj AS BIGINT) AS n_subjects",
        "CAST(n_ev AS BIGINT) AS n_events",
        "ROUND(x.b, 6) AS cox_beta",
        "ROUND(EXP(x.b), 6) AS hazard_ratio",
        "ROUND(CAST(1 AS DOUBLE) / SQRT(x.i), 6) AS beta_se",
        "ROUND(x.b * SQRT(x.i), 6) AS wald_z",
    )


@register(
    "bass_diffusion_fit",
    oracle="""
    WITH adopters AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS aday
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    daily AS (SELECT aday, COUNT(*) AS n FROM adopters GROUP BY aday),
    cum AS (
      SELECT aday, CAST(n AS DOUBLE) AS y,
             CAST(COALESCE(SUM(n) OVER (ORDER BY aday
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DOUBLE) AS x1
      FROM daily),
    mlist AS (
      SELECT COUNT(*) AS m_days, SUM(CAST(y AS BIGINT)) AS adopters,
             list_reduce(list(x1 ORDER BY aday), (a, b) -> a + b) AS s1,
             list_reduce(list(x1 * x1 ORDER BY aday), (a, b) -> a + b)
               AS s2,
             list_reduce(list(x1 * x1 * (x1 * x1) ORDER BY aday),
                         (a, b) -> a + b) AS s22,
             list_reduce(list(x1 * (x1 * x1) ORDER BY aday),
                         (a, b) -> a + b) AS s12,
             list_reduce(list(y ORDER BY aday), (a, b) -> a + b) AS sy,
             list_reduce(list(x1 * y ORDER BY aday), (a, b) -> a + b)
               AS s1y,
             list_reduce(list((x1 * x1) * y ORDER BY aday),
                         (a, b) -> a + b) AS s2y
      FROM cum),
    solve AS (
      SELECT m_days, adopters,
             CAST(m_days AS DOUBLE) AS n, s1, s2, s22, s12, sy, s1y, s2y,
             (CAST(m_days AS DOUBLE) * (s2 * s22 - s12 * s12)
              - s1 * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s12 - s2 * s2)) AS det
      FROM mlist),
    beta AS (
      SELECT m_days, adopters,
             ((s2 * s22 - s12 * s12) * sy
              - (s1 * s22 - s12 * s2) * s1y
              + (s1 * s12 - s2 * s2) * s2y) / det AS b0,
             ((s12 * s2 - s1 * s22) * sy
              + (n * s22 - s2 * s2) * s1y
              - (n * s12 - s1 * s2) * s2y) / det AS b1,
             ((s1 * s12 - s2 * s2) * sy
              - (n * s12 - s1 * s2) * s1y
              + (n * s2 - s1 * s1) * s2y) / det AS b2
      FROM solve),
    bass AS (
      SELECT m_days, adopters, b0, b1, b2,
             (CAST(0 AS DOUBLE) - b1
              - SQRT(b1 * b1 - CAST(4 AS DOUBLE) * b2 * b0))
             / (CAST(2 AS DOUBLE) * b2) AS mm
      FROM beta)
    SELECT CAST(m_days AS BIGINT) AS n_days,
           CAST(adopters AS BIGINT) AS adopters_observed,
           ROUND(mm, 2) AS bass_market_size,
           ROUND(b0 / mm, 6) AS bass_p,
           ROUND(b1 + b0 / mm, 6) AS bass_q,
           ROUND(LN((b1 + b0 / mm) / (b0 / mm))
                 / (b0 / mm + (b1 + b0 / mm)), 2) AS peak_day
    FROM bass
    """,
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit to the purchase-adoption curve (each
    user's FIRST purchase day): the discrete Bass regression n_t = pM +
    (q-p)N_{t-1} - (q/M)N_{t-1}^2 is an OLS on [1, N, N^2], solved in
    closed form by the 3x3 adjugate, then inverted to the innovation
    coefficient p, imitation coefficient q and market size M (the
    negative root of the fitted quadratic), plus the analytic peak-
    adoption day ln(q/p)/(p+q) — the marketing-science growth model
    behind every "when does adoption peak" forecast. Cumulative adopters
    are exact integer prefix sums; the nine OLS moments fold in day
    order so every double is sequence-pinned. Shape: per-user first-
    purchase agg, daily agg, then constant-size algebra."""
    ev = _t(spark, sf_dir, "events")
    adopters = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("aday"))
    )
    daily = adopters.groupBy("aday").agg(F.count(F.lit(1)).alias("n"))
    wpre = Window.orderBy("aday").rowsBetween(Window.unboundedPreceding, -1)
    cum = daily.select(
        "aday",
        F.col("n").cast("double").alias("y"),
        F.coalesce(F.sum("n").over(wpre), F.lit(0))
        .cast("double")
        .alias("x1"),
    )
    arr = cum.agg(
        F.count(F.lit(1)).alias("m_days"),
        F.sum(F.col("y").cast("bigint")).alias("adopters"),
        F.sort_array(F.collect_list(F.struct("aday", "x1", "y"))).alias("g"),
    )
    fold = lambda body: F.expr(  # noqa: E731
        f"aggregate(transform(g, r -> {body}), CAST(0 AS DOUBLE), "
        "(a, b) -> a + b)"
    )
    mlist = arr.select(
        "m_days",
        "adopters",
        fold("r.x1").alias("s1"),
        fold("r.x1 * r.x1").alias("s2"),
        fold("r.x1 * r.x1 * (r.x1 * r.x1)").alias("s22"),
        fold("r.x1 * (r.x1 * r.x1)").alias("s12"),
        fold("r.y").alias("sy"),
        fold("r.x1 * r.y").alias("s1y"),
        fold("(r.x1 * r.x1) * r.y").alias("s2y"),
    )
    solve = mlist.selectExpr(
        "m_days",
        "adopters",
        "CAST(m_days AS DOUBLE) AS n",
        "s1", "s2", "s22", "s12", "sy", "s1y", "s2y",
        "(CAST(m_days AS DOUBLE) * (s2 * s22 - s12 * s12)"
        " - s1 * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s12 - s2 * s2)) AS det",
    )
    beta = solve.selectExpr(
        "m_days",
        "adopters",
        "((s2 * s22 - s12 * s12) * sy"
        " - (s1 * s22 - s12 * s2) * s1y"
        " + (s1 * s12 - s2 * s2) * s2y) / det AS b0",
        "((s12 * s2 - s1 * s22) * sy"
        " + (n * s22 - s2 * s2) * s1y"
        " - (n * s12 - s1 * s2) * s2y) / det AS b1",
        "((s1 * s12 - s2 * s2) * sy"
        " - (n * s12 - s1 * s2) * s1y"
        " + (n * s2 - s1 * s1) * s2y) / det AS b2",
    )
    bass = beta.selectExpr(
        "m_days",
        "adopters",
        "b0", "b1", "b2",
        "(CAST(0 AS DOUBLE) - b1"
        " - SQRT(b1 * b1 - CAST(4 AS DOUBLE) * b2 * b0))"
        " / (CAST(2 AS DOUBLE) * b2) AS mm",
    )
    return bass.selectExpr(
        "CAST(m_days AS BIGINT) AS n_days",
        "CAST(adopters AS BIGINT) AS adopters_observed",
        "ROUND(mm, 2) AS bass_market_size",
        "ROUND(b0 / mm, 6) AS bass_p",
        "ROUND(b1 + b0 / mm, 6) AS bass_q",
        "ROUND(LN((b1 + b0 / mm) / (b0 / mm))"
        " / (b0 / mm + (b1 + b0 / mm)), 2) AS peak_day",
    )


@register(
    "good_turing_smoothing",
    oracle="""
    WITH docs AS (
      SELECT list_filter(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               w -> w <> '') AS ws
      FROM documents),
    words AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS w
      FROM docs, UNNEST(range(1, len(ws))) AS u(i)),
    freq AS (
      SELECT w, COUNT(*) AS r FROM words GROUP BY w),
    fof AS (SELECT r, COUNT(*) AS nr FROM freq GROUP BY r),
    agg AS (
      SELECT SUM(r * nr) AS n_tokens, SUM(nr) AS vocab,
             MAX(CASE WHEN r = 1 THEN nr END) AS n1,
             MAX(CASE WHEN r = 2 THEN nr END) AS n2,
             MAX(CASE WHEN r = 3 THEN nr END) AS n3,
             MAX(CASE WHEN r = 4 THEN nr END) AS n4,
             MAX(CASE WHEN r = 5 THEN nr END) AS n5
      FROM fof)
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab_size,
           CAST(COALESCE(n1, 0) AS BIGINT) AS hapax_count,
           ROUND(CAST(COALESCE(n1, 0) AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE), 6) AS p_unseen_mass,
           CASE WHEN n1 IS NULL OR n2 IS NULL THEN NULL
                ELSE ROUND(CAST(2 * n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
           END AS rstar_1,
           CASE WHEN n2 IS NULL OR n3 IS NULL THEN NULL
                ELSE ROUND(CAST(3 * n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
           END AS rstar_2,
           CASE WHEN n3 IS NULL OR n4 IS NULL THEN NULL
                ELSE ROUND(CAST(4 * n4 AS DOUBLE) / CAST(n3 AS DOUBLE), 6)
           END AS rstar_3,
           CASE WHEN n4 IS NULL OR n5 IS NULL THEN NULL
                ELSE ROUND(CAST(5 * n5 AS DOUBLE) / CAST(n4 AS DOUBLE), 6)
           END AS rstar_4
    FROM agg
    """,
)
def good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus BIGRAM counts
    (the synthetic unigram vocabulary is closed — every word recurs —
    so the informative sparse zone lives at the bigram level): the
    frequency-of-frequencies table N_r gives the Turing-smoothed counts
    r* = (r+1) N_{r+1}/N_r for r=1..4 and the unseen-event mass P_0 =
    N_1/N — the estimate behind Katz backoff and the complement to the
    registered Kneser-Ney query (KN discounts continuations; Good-
    Turing reallocates raw mass to the unseen). Two integer hash-aggs
    (bigram counts, then count-of-counts); the handful of final ratios
    are the only doubles. r* < r is the Zipfian discount signature;
    empty N_{r+1} classes surface as NULL rather than a fake zero."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                    " ",
                ),
                lambda w: w != "",
            ).alias("ws")
        )
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) < 2 THEN array() "
                    "ELSE transform(sequence(1, size(ws) - 1), "
                    "i -> concat(element_at(ws, i), ' ', "
                    "element_at(ws, i + 1))) END"
                )
            ).alias("w")
        )
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    fof = freq.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    pick = lambda r: F.max(  # noqa: E731
        F.when(F.col("r") == r, F.col("nr"))
    ).alias(f"n{r}")
    agg = fof.agg(
        F.sum(F.col("r") * F.col("nr")).alias("n_tokens"),
        F.sum("nr").alias("vocab"),
        pick(1),
        pick(2),
        pick(3),
        pick(4),
        pick(5),
    )
    rstar = lambda r: (  # noqa: E731
        f"CASE WHEN n{r} IS NULL OR n{r + 1} IS NULL THEN NULL "
        f"ELSE ROUND(CAST({r + 1} * n{r + 1} AS DOUBLE)"
        f" / CAST(n{r} AS DOUBLE), 6) END AS rstar_{r}"
    )
    return agg.selectExpr(
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(vocab AS BIGINT) AS vocab_size",
        "CAST(COALESCE(n1, 0) AS BIGINT) AS hapax_count",
        "ROUND(CAST(COALESCE(n1, 0) AS DOUBLE)"
        " / CAST(n_tokens AS DOUBLE), 6) AS p_unseen_mass",
        rstar(1),
        rstar(2),
        rstar(3),
        rstar(4),
    )


@register(
    "page_hinkley_drift",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS x
      FROM orders GROUP BY 1),
    grid AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, x FROM daily),
    ph(i, n, s, m, minm, alarm) AS (
      SELECT 0, CAST(0 AS BIGINT), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(NULL AS DATE)
      UNION ALL
      SELECT g.i, p.n + 1, p.s + g.x,
             p.m + (g.x - (p.s + g.x) / CAST(p.n + 1 AS DOUBLE)
                    - CAST(25 AS DOUBLE)),
             LEAST(p.minm,
                   p.m + (g.x - (p.s + g.x) / CAST(p.n + 1 AS DOUBLE)
                          - CAST(25 AS DOUBLE))),
             CASE WHEN p.alarm IS NULL
                       AND (p.m + (g.x - (p.s + g.x)
                                   / CAST(p.n + 1 AS DOUBLE)
                                   - CAST(25 AS DOUBLE)))
                           - LEAST(p.minm,
                                   p.m + (g.x - (p.s + g.x)
                                          / CAST(p.n + 1 AS DOUBLE)
                                          - CAST(25 AS DOUBLE)))
                           > CAST(2000 AS DOUBLE)
                  THEN g.day ELSE p.alarm END
      FROM ph p JOIN grid g ON g.i = p.i + 1)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(m - minm, 6) AS ph_stat,
           ROUND(minm, 6) AS ph_min,
           alarm AS first_alarm_day,
           alarm IS NOT NULL AS drift_detected
    FROM ph ORDER BY i DESC LIMIT 1
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector on the daily mean order
    price: the cumulative deviation m_t = sum(x_i - mean_i - delta)
    against its running minimum, alarming the first day the gap exceeds
    lambda=2000 (delta=25 tolerance) — the streaming change detector
    that, unlike CUSUM against a FIXED baseline (already registered),
    self-centers on the running mean. The replay is one day-ordered
    fold (aggregate() here, recursive CTE in the oracle, identical
    arithmetic); daily means come from exact decimal sums, so the whole
    trace is bit-deterministic. Reports the final PH statistic, its
    minimum, and the first alarm day if any."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("x")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("g")
    )
    mnew = (
        "(acc.m + (r.x - (acc.s + r.x) / CAST(acc.n + 1 AS DOUBLE)"
        " - CAST(25 AS DOUBLE)))"
    )
    state = (
        "named_struct('n', CAST(0 AS BIGINT), 's', CAST(0 AS DOUBLE), "
        "'m', CAST(0 AS DOUBLE), 'minm', CAST(0 AS DOUBLE), "
        "'alarm', CAST(NULL AS DATE))"
    )
    step = (
        "(acc, r) -> named_struct("
        "'n', acc.n + 1, 's', acc.s + r.x, "
        f"'m', {mnew}, "
        f"'minm', LEAST(acc.minm, {mnew}), "
        f"'alarm', CASE WHEN acc.alarm IS NULL AND {mnew}"
        f" - LEAST(acc.minm, {mnew}) > CAST(2000 AS DOUBLE) "
        "THEN r.day ELSE acc.alarm END)"
    )
    return arr.select(
        F.expr(f"aggregate(g, {state}, {step})").alias("p")
    ).selectExpr(
        "CAST(p.n AS BIGINT) AS n_days",
        "ROUND(p.m - p.minm, 6) AS ph_stat",
        "ROUND(p.minm, 6) AS ph_min",
        "p.alarm AS first_alarm_day",
        "p.alarm IS NOT NULL AS drift_detected",
    )


@register(
    "competing_risks_cif",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS purch_d,
             MIN(CASE WHEN event_type = 'error'
                      THEN CAST(ts AS DATE) END) AS err_d,
             MAX(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY user_id),
    dur AS (
      SELECT CASE
               WHEN purch_d IS NOT NULL
                    AND (err_d IS NULL OR purch_d <= err_d)
                 THEN date_diff('day', first_d, purch_d)
               WHEN err_d IS NOT NULL
                 THEN date_diff('day', first_d, err_d)
               ELSE date_diff('day', first_d, last_d) END AS t,
             CASE
               WHEN purch_d IS NOT NULL
                    AND (err_d IS NULL OR purch_d <= err_d) THEN 1
               WHEN err_d IS NOT NULL THEN 2
               ELSE 0 END AS cause
      FROM per_user),
    per_t AS (
      SELECT t, COUNT(*) AS n_at_t,
             SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2
      FROM dur GROUP BY t),
    w AS (
      SELECT t, d1, d2,
             SUM(n_at_t) OVER (ORDER BY t DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_i
      FROM per_t),
    evt AS (SELECT t, d1, d2, n_i FROM w WHERE d1 + d2 > 0),
    arr AS (
      SELECT list(t ORDER BY t) AS ts_,
             list(d1 ORDER BY t) AS d1s,
             list(d2 ORDER BY t) AS d2s,
             list(n_i ORDER BY t) AS ns,
             list([CAST(d1 AS DOUBLE) / n_i,
                   CAST(d2 AS DOUBLE) / n_i,
                   CAST(d1 + d2 AS DOUBLE) / n_i] ORDER BY t) AS fs
      FROM evt)
    SELECT CAST(ts_[j] AS INT) AS t_days,
           CAST(d1s[j] AS BIGINT) AS purchases,
           CAST(d2s[j] AS BIGINT) AS errors,
           CAST(ns[j] AS BIGINT) AS n_at_risk,
           ROUND(list_reduce(list_concat(
                   [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE),
                     CAST(0 AS DOUBLE)]], fs[1:j]),
                 (a, x) -> [a[1] * (CAST(1 AS DOUBLE) - x[3]),
                            a[2] + a[1] * x[1],
                            a[3] + a[1] * x[2]])[2], 6) AS cif_purchase,
           ROUND(list_reduce(list_concat(
                   [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE),
                     CAST(0 AS DOUBLE)]], fs[1:j]),
                 (a, x) -> [a[1] * (CAST(1 AS DOUBLE) - x[3]),
                            a[2] + a[1] * x[1],
                            a[3] + a[1] * x[2]])[3], 6) AS cif_error,
           ROUND(list_reduce(list_concat(
                   [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE),
                     CAST(0 AS DOUBLE)]], fs[1:j]),
                 (a, x) -> [a[1] * (CAST(1 AS DOUBLE) - x[3]),
                            a[2] + a[1] * x[1],
                            a[3] + a[1] * x[2]])[1], 6) AS event_free_surv
    FROM arr, UNNEST(range(1, len(ns) + 1)) AS u(j)
    ORDER BY t_days
    """,
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions under COMPETING
    RISKS: each user's first purchase (cause 1) races their first error
    (cause 2) from their first-seen day, censored at last activity if
    neither occurs — the estimator that fixes the classic mistake of
    running one-minus-KM per cause (which over-counts when causes
    compete). CIF_k(t) = sum S(t-) d_k/n accumulates through a
    three-slot fold [S, CIF1, CIF2] whose updates all read the PREVIOUS
    state (list accumulator in the oracle — DuckDB struct folds update
    in place), replayed per output row over prefix slices. Risk sets
    are integer window sums; event-time-sized output. CIF1 + CIF2 +
    S = 1 at every step by construction."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("purch_d"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts").cast("date"))
        ).alias("err_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    first_purchase = F.col("purch_d").isNotNull() & (
        F.col("err_d").isNull() | (F.col("purch_d") <= F.col("err_d"))
    )
    dur = per_user.select(
        F.when(first_purchase, F.datediff("purch_d", "first_d"))
        .when(F.col("err_d").isNotNull(), F.datediff("err_d", "first_d"))
        .otherwise(F.datediff("last_d", "first_d"))
        .alias("t"),
        F.when(first_purchase, 1)
        .when(F.col("err_d").isNotNull(), 2)
        .otherwise(0)
        .alias("cause"),
    )
    per_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at_t"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).alias("d2"),
    )
    wrev = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    evt = per_t.select(
        "t", "d1", "d2", F.sum("n_at_t").over(wrev).alias("n_i")
    ).filter(F.col("d1") + F.col("d2") > 0)
    packed = evt.agg(
        F.sort_array(F.collect_list(F.struct("t", "d1", "d2", "n_i"))).alias(
            "arr"
        )
    ).select(
        "arr",
        F.expr(
            "transform(arr, s -> named_struct("
            "'p1', CAST(s.d1 AS DOUBLE) / s.n_i, "
            "'p2', CAST(s.d2 AS DOUBLE) / s.n_i, "
            "'pa', CAST(s.d1 + s.d2 AS DOUBLE) / s.n_i))"
        ).alias("fs"),
    )
    ex = packed.select("fs", F.posexplode("arr").alias("j0", "s"))
    aj = (
        "aggregate(slice(fs, 1, j0 + 1), "
        "named_struct('s', CAST(1 AS DOUBLE), 'c1', CAST(0 AS DOUBLE), "
        "'c2', CAST(0 AS DOUBLE)), "
        "(a, x) -> named_struct("
        "'s', a.s * (CAST(1 AS DOUBLE) - x.pa), "
        "'c1', a.c1 + a.s * x.p1, "
        "'c2', a.c2 + a.s * x.p2))"
    )
    return ex.select(
        F.col("s.t").cast("int").alias("t_days"),
        F.col("s.d1").cast("bigint").alias("purchases"),
        F.col("s.d2").cast("bigint").alias("errors"),
        F.col("s.n_i").cast("bigint").alias("n_at_risk"),
        F.expr(f"round(({aj}).c1, 6)").alias("cif_purchase"),
        F.expr(f"round(({aj}).c2, 6)").alias("cif_error"),
        F.expr(f"round(({aj}).s, 6)").alias("event_free_surv"),
    ).orderBy("t_days")


@register(
    "rmst_restricted_mean",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS purch_d,
             MAX(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY user_id),
    dur AS (
      SELECT CASE WHEN purch_d IS NOT NULL
                  THEN date_diff('day', first_d, purch_d)
                  ELSE date_diff('day', first_d, last_d) END AS t,
             CASE WHEN purch_d IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user),
    per_t AS (
      SELECT t, COUNT(*) AS n_at_t, SUM(ev) AS d_i FROM dur GROUP BY t),
    w AS (
      SELECT t, d_i,
             SUM(n_at_t) OVER (ORDER BY t DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_i
      FROM per_t),
    evt AS (SELECT t, d_i, n_i FROM w WHERE d_i > 0),
    arr AS (
      SELECT list([CAST(t AS DOUBLE),
                   CAST(1 AS DOUBLE) - CAST(d_i AS DOUBLE) / n_i]
             ORDER BY t) AS fs,
             COUNT(*) AS k
      FROM evt),
    folds AS (
      SELECT k,
             list_reduce(list_concat(
               [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
               fs),
               (a, x) -> [a[1] * x[2],
                          a[2] + a[1] * (LEAST(x[1],
                                               CAST(30 AS DOUBLE)) - a[3]),
                          LEAST(x[1], CAST(30 AS DOUBLE))])
               AS r30,
             list_reduce(list_concat(
               [[CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
               fs),
               (a, x) -> [a[1] * x[2],
                          a[2] + a[1] * (LEAST(x[1],
                                               CAST(90 AS DOUBLE)) - a[3]),
                          LEAST(x[1], CAST(90 AS DOUBLE))])
               AS r90,
             (SELECT COUNT(*) FROM dur) AS n_subj,
             (SELECT SUM(ev) FROM dur) AS n_ev
      FROM arr)
    SELECT CAST(n_subj AS BIGINT) AS n_subjects,
           CAST(n_ev AS BIGINT) AS n_events,
           CAST(k AS INT) AS n_event_times,
           ROUND(r30[2] + r30[1] * (CAST(30 AS DOUBLE) - r30[3]), 6)
             AS rmst_30,
           ROUND(r90[2] + r90[1] * (CAST(90 AS DOUBLE) - r90[3]), 6)
             AS rmst_90
    FROM folds
    """,
)
def rmst_restricted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at 30- and 90-day horizons for the
    time-to-first-purchase KM curve: the area under the step survival
    function up to tau — the clinically-preferred single-number summary
    when hazards aren't proportional (it's "average purchase-free days
    in the first tau days"). The fold walks event times carrying
    [S, area, clamped-previous-t], adding S(t-) x time-slice rectangles
    with times clamped at tau, then closes the tail rectangle to tau;
    every update reads the previous state (list accumulator in the
    oracle). Risk sets are integer window sums; the fold is
    event-time-sized."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("purch_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    dur = per_user.select(
        F.when(
            F.col("purch_d").isNotNull(), F.datediff("purch_d", "first_d")
        ).otherwise(F.datediff("last_d", "first_d")).alias("t"),
        F.when(F.col("purch_d").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    per_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at_t"), F.sum("ev").alias("d_i")
    )
    wrev = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    evt = per_t.select(
        "t", "d_i", F.sum("n_at_t").over(wrev).alias("n_i")
    ).filter(F.col("d_i") > 0)
    arr = evt.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(t, d_i, n_i))), "
            "s -> named_struct('t', s.t, "
            "'f', CAST(1 AS DOUBLE) - CAST(s.d_i AS DOUBLE) / s.n_i))"
        ).alias("fs"),
        F.count(F.lit(1)).alias("k"),
    )
    cnts = dur.agg(
        F.count(F.lit(1)).alias("n_subj"), F.sum("ev").alias("n_ev")
    )
    rm = lambda tau: (  # noqa: E731
        "aggregate(fs, "
        "named_struct('s', CAST(1 AS DOUBLE), 'a', CAST(0 AS DOUBLE), "
        "'tp', CAST(0 AS DOUBLE)), "
        "(a, x) -> named_struct("
        "'s', a.s * x.f, "
        f"'a', a.a + a.s * (LEAST(CAST(x.t AS DOUBLE), "
        f"CAST({tau} AS DOUBLE)) - a.tp), "
        f"'tp', LEAST(CAST(x.t AS DOUBLE), CAST({tau} AS DOUBLE))))"
    )
    return arr.crossJoin(F.broadcast(cnts)).select(
        F.col("n_subj").cast("bigint").alias("n_subjects"),
        F.col("n_ev").cast("bigint").alias("n_events"),
        F.col("k").cast("int").alias("n_event_times"),
        F.expr(
            f"round(({rm(30)}).a + ({rm(30)}).s"
            f" * (CAST(30 AS DOUBLE) - ({rm(30)}).tp), 6)"
        ).alias("rmst_30"),
        F.expr(
            f"round(({rm(90)}).a + ({rm(90)}).s"
            f" * (CAST(90 AS DOUBLE) - ({rm(90)}).tp), 6)"
        ).alias("rmst_90"),
    )


@register(
    "inventory_ss_policy_replay",
    oracle="""
    WITH RECURSIVE
    cnt AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY 1),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM cnt),
    cal AS (
      SELECT CAST(u.d AS DATE) AS day,
             CAST(DATE_DIFF('day', (SELECT d0 FROM span),
                            CAST(u.d AS DATE)) + 1 AS BIGINT) AS i
      FROM (SELECT UNNEST(generate_series((SELECT d0 FROM span),
                                          (SELECT d1 FROM span),
                                          INTERVAL 1 DAY)) AS d) u),
    grid AS (
      SELECT cal.i, COALESCE(cnt.c, 0) AS d
      FROM cal LEFT JOIN cnt ON cal.day = cnt.day),
    cons AS (
      SELECT COUNT(*) AS n, (3 * SUM(d)) // COUNT(*) AS sp,
             (8 * SUM(d)) // COUNT(*) AS cap
      FROM grid),
    inv(i, oh, p1, p2, p3, served, lost, sdays, nord, sumoh) AS (
      SELECT 0, cap, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM cons
      UNION ALL
      SELECT g.i,
             (v.oh + v.p1) - LEAST(v.oh + v.p1, g.d),
             v.p2, v.p3,
             CASE WHEN ((v.oh + v.p1) - LEAST(v.oh + v.p1, g.d))
                       + v.p2 + v.p3 < c.sp
                  THEN c.cap - (((v.oh + v.p1) - LEAST(v.oh + v.p1, g.d))
                                + v.p2 + v.p3)
                  ELSE 0 END,
             v.served + LEAST(v.oh + v.p1, g.d),
             v.lost + g.d - LEAST(v.oh + v.p1, g.d),
             v.sdays + CASE WHEN g.d > LEAST(v.oh + v.p1, g.d)
                            THEN 1 ELSE 0 END,
             v.nord + CASE WHEN ((v.oh + v.p1)
                                 - LEAST(v.oh + v.p1, g.d))
                                + v.p2 + v.p3 < c.sp
                           THEN 1 ELSE 0 END,
             v.sumoh + ((v.oh + v.p1) - LEAST(v.oh + v.p1, g.d))
      FROM inv v JOIN grid g ON g.i = v.i + 1, cons c),
    fin AS (SELECT * FROM inv ORDER BY i DESC LIMIT 1)
    SELECT CAST(c.n AS BIGINT) AS n_days,
           CAST(c.sp AS BIGINT) AS reorder_point,
           CAST(c.cap AS BIGINT) AS order_up_to,
           ROUND(CAST(f.served AS DOUBLE)
                 / CAST(f.served + f.lost AS DOUBLE), 6) AS fill_rate,
           ROUND(CAST(f.sumoh AS DOUBLE) / CAST(c.n AS DOUBLE), 4)
             AS avg_end_inventory,
           CAST(f.sdays AS BIGINT) AS stockout_days,
           CAST(f.nord AS BIGINT) AS orders_placed
    FROM fin f, cons c
    """,
)
def inventory_ss_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s,S) inventory-policy replay against the real daily order-count
    demand stream: every day stock arrives from a 3-day-lead pipeline,
    demand is served from on-hand (shortfalls are LOST sales), and when
    inventory position falls below the reorder point s = 3x mean daily
    demand an order tops it back to S = 8x mean — the textbook periodic-
    review policy, scored by fill rate, average end-of-day stock,
    stockout days and orders placed. The entire replay is INTEGER
    arithmetic (demand counts, stock units), so there is no float
    portability surface at all; the fold is day-grid-sized (calendar-
    bounded), the only data-sized stage the daily hash-agg, and the
    oracle replays the identical recurrence as a recursive CTE.
    Demand-scale-free: s and S derive from the observed mean."""
    orders = _t(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    span = cnt.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    ).select("day", (F.datediff("day", "d0") + 1).cast("bigint").alias("i"))
    grid = cal.join(cnt, "day", "left").select(
        "i", F.coalesce("c", F.lit(0)).alias("d")
    )
    cons = grid.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("(3 * SUM(d)) div COUNT(*)").alias("sp"),
        F.expr("(8 * SUM(d)) div COUNT(*)").alias("cap"),
    )
    arr = grid.agg(
        F.expr("transform(array_sort(collect_list(struct(i, d))), "
               "s -> s.d)").alias("g")
    )
    oh2 = "((acc.oh + acc.p1) - LEAST(acc.oh + acc.p1, x))"
    pos = f"({oh2} + acc.p2 + acc.p3)"
    serve = "LEAST(acc.oh + acc.p1, x)"
    state = (
        "named_struct('oh', cap, 'p1', CAST(0 AS BIGINT), "
        "'p2', CAST(0 AS BIGINT), 'p3', CAST(0 AS BIGINT), "
        "'served', CAST(0 AS BIGINT), 'lost', CAST(0 AS BIGINT), "
        "'sdays', CAST(0 AS BIGINT), 'nord', CAST(0 AS BIGINT), "
        "'sumoh', CAST(0 AS BIGINT))"
    )
    step = (
        "(acc, x) -> named_struct("
        f"'oh', {oh2}, "
        "'p1', acc.p2, 'p2', acc.p3, "
        f"'p3', CASE WHEN {pos} < sp THEN cap - {pos} ELSE 0 END, "
        f"'served', acc.served + {serve}, "
        f"'lost', acc.lost + x - {serve}, "
        f"'sdays', acc.sdays + CASE WHEN x > {serve} THEN 1 ELSE 0 END, "
        f"'nord', acc.nord + CASE WHEN {pos} < sp THEN 1 ELSE 0 END, "
        f"'sumoh', acc.sumoh + {oh2})"
    )
    out = arr.crossJoin(F.broadcast(cons)).select(
        "n",
        "sp",
        "cap",
        F.expr(f"aggregate(g, {state}, {step})").alias("v"),
    )
    return out.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(sp AS BIGINT) AS reorder_point",
        "CAST(cap AS BIGINT) AS order_up_to",
        "ROUND(CAST(v.served AS DOUBLE)"
        " / CAST(v.served + v.lost AS DOUBLE), 6) AS fill_rate",
        "ROUND(CAST(v.sumoh AS DOUBLE) / CAST(n AS DOUBLE), 4)"
        " AS avg_end_inventory",
        "CAST(v.sdays AS BIGINT) AS stockout_days",
        "CAST(v.nord AS BIGINT) AS orders_placed",
    )


@register(
    "lindley_queue_replay",
    oracle="""
    WITH busiest AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1 ORDER BY c DESC, day LIMIT 1),
    jobs AS (
      SELECT CAST(FLOOR(epoch(e.ts)) AS BIGINT) AS a
      FROM events e, busiest b WHERE CAST(e.ts AS DATE) = b.day),
    packed AS (
      SELECT list(a ORDER BY a) AS arr, COUNT(*) AS n,
             MAX(a) - MIN(a) AS span
      FROM jobs),
    cons AS (
      SELECT arr, n, span,
             GREATEST(span // (2 * n), 1) AS sv
      FROM packed),
    fold AS (
      SELECT n, span, sv,
             list_reduce(list_concat([[arr[1], CAST(0 AS BIGINT),
                                       CAST(0 AS BIGINT),
                                       CAST(0 AS BIGINT),
                                       CAST(1 AS BIGINT)]],
                         list_transform(arr[2:], a -> [a, CAST(0 AS BIGINT),
                                        CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                                        CAST(0 AS BIGINT)])),
               (s, x) -> [x[1],
                          GREATEST(s[2] + sv - (x[1] - s[1]),
                                   CAST(0 AS BIGINT)),
                          s[3] + GREATEST(s[2] + sv - (x[1] - s[1]),
                                          CAST(0 AS BIGINT)),
                          GREATEST(s[4],
                                   GREATEST(s[2] + sv - (x[1] - s[1]),
                                            CAST(0 AS BIGINT))),
                          s[5] + CASE WHEN GREATEST(s[2] + sv
                                             - (x[1] - s[1]),
                                             CAST(0 AS BIGINT)) = 0
                                      THEN 1 ELSE 0 END]) AS st,
             (SELECT day FROM busiest) AS day
      FROM cons)
    SELECT day AS busiest_day,
           CAST(n AS BIGINT) AS n_jobs,
           CAST(sv AS BIGINT) AS service_seconds,
           ROUND(CAST(st[3] AS DOUBLE) / CAST(n AS DOUBLE), 4)
             AS mean_wait_seconds,
           CAST(st[4] AS BIGINT) AS max_wait_seconds,
           ROUND(CAST(st[5] AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS p_no_wait,
           ROUND(CAST(n * sv AS DOUBLE) / CAST(span + sv AS DOUBLE), 6)
             AS offered_utilization
    FROM fold
    """,
)
def lindley_queue_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lindley-recursion queue replay of the single BUSIEST day's event
    arrivals through a deterministic single server (service time =
    span/(2n) seconds, i.e. ~50% offered utilization): W_{k+1} =
    max(0, W_k + S - interarrival) — the exact waiting-time dynamics of
    a G/D/1 queue driven by the REAL arrival process, reporting mean and
    max wait, the fraction served immediately, and utilization. All
    state is INTEGER seconds (no float surface); the day is selected by
    (count DESC, day) so the replay is deterministic, and bounding the
    fold to one day keeps it arrival-count-sized regardless of corpus
    scale. Oracle replays the identical recurrence with a LIST
    accumulator."""
    ev = _t(spark, sf_dir, "events")
    busiest = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "day")
        .limit(1)
    )
    jobs = ev.join(
        F.broadcast(busiest), F.col("ts").cast("date") == F.col("day")
    ).select("day", F.unix_timestamp("ts").alias("a"))
    packed = jobs.groupBy("day").agg(
        F.sort_array(F.collect_list("a")).alias("arr"),
        F.count(F.lit(1)).alias("n"),
        (F.max("a") - F.min("a")).alias("span"),
    )
    cons = packed.select(
        "day",
        "arr",
        "n",
        "span",
        F.expr("GREATEST(span div (2 * n), 1)").alias("sv"),
    )
    wnew = "GREATEST(acc.w + sv - (x - acc.prev), CAST(0 AS BIGINT))"
    state = (
        "named_struct('prev', element_at(arr, 1), "
        "'w', CAST(0 AS BIGINT), 'sumw', CAST(0 AS BIGINT), "
        "'maxw', CAST(0 AS BIGINT), 'z', CAST(1 AS BIGINT))"
    )
    step = (
        "(acc, x) -> named_struct("
        "'prev', x, "
        f"'w', {wnew}, "
        f"'sumw', acc.sumw + {wnew}, "
        f"'maxw', GREATEST(acc.maxw, {wnew}), "
        f"'z', acc.z + CASE WHEN {wnew} = 0 THEN 1 ELSE 0 END)"
    )
    out = cons.select(
        "day",
        "n",
        "span",
        "sv",
        F.expr(
            f"aggregate(slice(arr, 2, size(arr) - 1), {state}, {step})"
        ).alias("st"),
    )
    return out.selectExpr(
        "day AS busiest_day",
        "CAST(n AS BIGINT) AS n_jobs",
        "CAST(sv AS BIGINT) AS service_seconds",
        "ROUND(CAST(st.sumw AS DOUBLE) / CAST(n AS DOUBLE), 4)"
        " AS mean_wait_seconds",
        "CAST(st.maxw AS BIGINT) AS max_wait_seconds",
        "ROUND(CAST(st.z AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_no_wait",
        "ROUND(CAST(n * sv AS DOUBLE) / CAST(span + sv AS DOUBLE), 6)"
        " AS offered_utilization",
    )


@register(
    "synthetic_control_lite",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nat,
             date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
        AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2),
    grid AS (
      SELECT CAST(u.k AS INT) AS k,
             CAST(DATE '1995-01-01'
                  + to_months(CAST(u.k AS INT)) AS DATE) AS m
      FROM (SELECT UNNEST(range(0, 24)) AS k) u),
    wide AS (
      SELECT g.k, g.m,
             COALESCE(MAX(CASE WHEN rev.nat = 'NATION_1' THEN rev.r END),
                      CAST(0 AS DOUBLE)) AS a,
             COALESCE(MAX(CASE WHEN rev.nat = 'NATION_2' THEN rev.r END),
                      CAST(0 AS DOUBLE)) AS b,
             COALESCE(MAX(CASE WHEN rev.nat = 'NATION_3' THEN rev.r END),
                      CAST(0 AS DOUBLE)) AS c
      FROM grid g LEFT JOIN rev ON rev.m = g.m
      GROUP BY g.k, g.m),
    pre AS (
      SELECT
        list_reduce(list((a - c) * (b - c) ORDER BY k)
                    FILTER (k < 12), (x, y) -> x + y) AS num,
        list_reduce(list((b - c) * (b - c) ORDER BY k)
                    FILTER (k < 12), (x, y) -> x + y) AS den
      FROM wide),
    wstar AS (
      SELECT LEAST(GREATEST(num / den, CAST(0 AS DOUBLE)),
                   CAST(1 AS DOUBLE)) AS w
      FROM pre),
    gaps AS (
      SELECT
        list_reduce(list((a - (w.w * b + (CAST(1 AS DOUBLE) - w.w) * c))
                         * (a - (w.w * b + (CAST(1 AS DOUBLE) - w.w) * c))
                         ORDER BY k) FILTER (k < 12),
                    (x, y) -> x + y) AS pre_sse,
        list_reduce(list(a - (w.w * b + (CAST(1 AS DOUBLE) - w.w) * c)
                         ORDER BY k) FILTER (k >= 12),
                    (x, y) -> x + y) AS post_gap,
        MAX(w.w) AS w
      FROM wide, wstar w)
    SELECT ROUND(w, 6) AS donor_weight_n2,
           ROUND(SQRT(pre_sse / CAST(12 AS DOUBLE)), 4) AS pre_rmse,
           ROUND(post_gap / CAST(12 AS DOUBLE), 4) AS avg_monthly_effect,
           ROUND(post_gap, 2) AS total_effect_1996
    FROM gaps
    """,
)
def synthetic_control_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-control estimate (two-donor closed form): NATION_1's
    monthly 1995 revenue is matched by the best convex combination of
    NATION_2 and NATION_3 (w* = <a-c, b-c>/|b-c|^2 clamped to [0,1] —
    the exact least-squares solution on the donor segment), then the
    1996 gap between NATION_1 and its synthetic twin is the estimated
    effect — the Abadie-style counterfactual method, reduced to its
    closed-form two-donor core so it stays oracle-checkable. Monthly
    revenues are exact decimals on a DENSE 24-month grid (missing
    months are real zeros); all dot products fold in month order.
    Shape: one filtered fact agg + broadcast dims; constant-size
    algebra after."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.filter(
            (F.col("o_orderdate").cast("date") >= "1995-01-01")
            & (F.col("o_orderdate").cast("date") < "1997-01-01")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy(
            F.col("n_name").alias("nat"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"),
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("r")
        )
    )
    grid = spark.range(0, 24).select(
        F.col("id").cast("int").alias("k"),
        F.add_months(F.lit("1995-01-01").cast("date"), F.col("id").cast("int"))
        .alias("m"),
    )
    z = F.lit(0).cast("double")
    wide = (
        grid.join(rev, "m", "left")
        .groupBy("k", "m")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("nat") == "NATION_1", F.col("r"))), z
            ).alias("a"),
            F.coalesce(
                F.max(F.when(F.col("nat") == "NATION_2", F.col("r"))), z
            ).alias("b"),
            F.coalesce(
                F.max(F.when(F.col("nat") == "NATION_3", F.col("r"))), z
            ).alias("c"),
        )
    )
    fold_k = lambda body, cond: F.expr(  # noqa: E731
        f"aggregate(transform(filter(g, r -> {cond}), r -> {body}), "
        "CAST(0 AS DOUBLE), (x, y) -> x + y)"
    )
    packed = wide.agg(
        F.sort_array(F.collect_list(F.struct("k", "a", "b", "c"))).alias("g")
    )
    pre = packed.select(
        "g",
        (
            fold_k("(r.a - r.c) * (r.b - r.c)", "r.k < 12")
            / fold_k("(r.b - r.c) * (r.b - r.c)", "r.k < 12")
        ).alias("w0"),
    ).select(
        "g",
        F.expr(
            "LEAST(GREATEST(w0, CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE))"
        ).alias("w"),
    )
    syn = "(w * r.b + (CAST(1 AS DOUBLE) - w) * r.c)"
    gaps = pre.select(
        "w",
        fold_k(f"(r.a - {syn}) * (r.a - {syn})", "r.k < 12").alias("pre_sse"),
        fold_k(f"r.a - {syn}", "r.k >= 12").alias("post_gap"),
    )
    return gaps.selectExpr(
        "ROUND(w, 6) AS donor_weight_n2",
        "ROUND(SQRT(pre_sse / CAST(12 AS DOUBLE)), 4) AS pre_rmse",
        "ROUND(post_gap / CAST(12 AS DOUBLE), 4) AS avg_monthly_effect",
        "ROUND(post_gap, 2) AS total_effect_1996",
    )


@register(
    "event_study_leads_lags",
    oracle="""
    WITH sizes AS (
      SELECT SUM(CASE WHEN n.n_name = 'NATION_1' THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN n.n_name IN ('NATION_2', 'NATION_3')
                      THEN 1 ELSE 0 END) AS nc
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
    rev AS (
      SELECT CASE WHEN n.n_name = 'NATION_1' THEN 1 ELSE 0 END AS treat,
             date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      GROUP BY 1, 2),
    grid AS (
      SELECT CAST(u.k AS INT) AS k,
             CAST(DATE '1996-01-01'
                  + to_months(CAST(u.k AS INT)) AS DATE) AS m
      FROM (SELECT UNNEST(range(-6, 6)) AS k) u),
    wide AS (
      SELECT g.k,
             COALESCE(MAX(CASE WHEN rev.treat = 1 THEN rev.r END),
                      CAST(0 AS DOUBLE)) AS tr,
             COALESCE(MAX(CASE WHEN rev.treat = 0 THEN rev.r END),
                      CAST(0 AS DOUBLE)) AS cr
      FROM grid g LEFT JOIN rev ON rev.m = g.m
      GROUP BY g.k),
    pc AS (
      SELECT k, tr / CAST(s.nt AS DOUBLE) AS tpc,
             cr / CAST(s.nc AS DOUBLE) AS cpc
      FROM wide, sizes s),
    base AS (
      SELECT list_reduce(list(tpc - cpc ORDER BY k) FILTER (k < 0),
                         (x, y) -> x + y) / CAST(6 AS DOUBLE) AS b0
      FROM pc)
    SELECT CAST(pc.k AS INT) AS rel_month,
           ROUND(pc.tpc, 4) AS treated_rev_per_cust,
           ROUND(pc.cpc, 4) AS control_rev_per_cust,
           ROUND(pc.tpc - pc.cpc, 4) AS raw_diff,
           ROUND((pc.tpc - pc.cpc) - base.b0, 4) AS event_study_coef
    FROM pc, base
    ORDER BY rel_month
    """,
)
def event_study_leads_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study (dynamic difference-in-differences) around a
    1996-01-01 policy date: NATION_1 customers are "treated", NATION_2/3
    are the control pool, and each relative month k in [-6, +5] gets the
    per-customer revenue difference minus the 6-month pre-period
    baseline — the leads-and-lags plot that validates (flat pre-trend)
    and measures (post coefficients) a DiD design in one table. Monthly
    group revenues are exact decimals on a dense relative-month grid;
    the baseline folds the six pre-period diffs in month order.
    Per-customer scaling uses the full customer dimension counts so
    group size differences can't masquerade as effects."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sizes = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .agg(
            F.sum(
                F.when(F.col("n_name") == "NATION_1", 1).otherwise(0)
            ).alias("nt"),
            F.sum(
                F.when(
                    F.col("n_name").isin("NATION_2", "NATION_3"), 1
                ).otherwise(0)
            ).alias("nc"),
        )
    )
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy(
            F.when(F.col("n_name") == "NATION_1", 1).otherwise(0).alias(
                "treat"
            ),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"),
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("r")
        )
    )
    grid = spark.range(-6, 6).select(
        F.col("id").cast("int").alias("k"),
        F.add_months(F.lit("1996-01-01").cast("date"), F.col("id").cast("int"))
        .alias("m"),
    )
    z = F.lit(0).cast("double")
    wide = (
        grid.join(rev, "m", "left")
        .groupBy("k")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("treat") == 1, F.col("r"))), z
            ).alias("tr"),
            F.coalesce(
                F.max(F.when(F.col("treat") == 0, F.col("r"))), z
            ).alias("cr"),
        )
    )
    pc = wide.crossJoin(F.broadcast(sizes)).select(
        "k",
        (F.col("tr") / F.col("nt").cast("double")).alias("tpc"),
        (F.col("cr") / F.col("nc").cast("double")).alias("cpc"),
    )
    base = pc.agg(
        (
            F.expr(
                "aggregate(transform(filter("
                "array_sort(collect_list(struct(k, tpc, cpc))), "
                "r -> r.k < 0), r -> r.tpc - r.cpc), CAST(0 AS DOUBLE), "
                "(x, y) -> x + y)"
            )
            / F.lit(6).cast("double")
        ).alias("b0")
    )
    return (
        pc.crossJoin(F.broadcast(base))
        .select(
            F.col("k").cast("int").alias("rel_month"),
            F.round("tpc", 4).alias("treated_rev_per_cust"),
            F.round("cpc", 4).alias("control_rev_per_cust"),
            F.round(F.col("tpc") - F.col("cpc"), 4).alias("raw_diff"),
            F.round(
                (F.col("tpc") - F.col("cpc")) - F.col("b0"), 4
            ).alias("event_study_coef"),
        )
        .orderBy("rel_month")
    )


@register(
    "dhondt_seat_allocation",
    oracle="""
    WITH votes AS (
      SELECT r.r_name AS party,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                  AS BIGINT) AS v
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name),
    quot AS (
      SELECT party, v, u.k,
             CAST(v AS DOUBLE) / CAST(u.k AS DOUBLE) AS q
      FROM votes, (SELECT UNNEST(range(1, 21)) AS k) u),
    top20 AS (
      SELECT party FROM quot ORDER BY q DESC, party, k LIMIT 20),
    seats AS (
      SELECT party, COUNT(*) AS seats FROM top20 GROUP BY party),
    tot AS (SELECT SUM(v) AS tv FROM votes)
    SELECT v.party,
           CAST(v.v AS BIGINT) AS votes,
           CAST(COALESCE(s.seats, 0) AS INT) AS seats,
           ROUND(CAST(v.v AS DOUBLE) / CAST(t.tv AS DOUBLE), 6)
             AS vote_share,
           ROUND(CAST(COALESCE(s.seats, 0) AS DOUBLE)
                 / CAST(20 AS DOUBLE), 6) AS seat_share
    FROM votes v LEFT JOIN seats s ON v.party = s.party, tot t
    ORDER BY seats DESC, v.party
    """,
)
def dhondt_seat_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt highest-averages apportionment of 20 "seats" across the
    five regions by revenue "votes" — the proportional-allocation rule
    (used from parliaments to fair-share schedulers) that complements
    the registered Hamilton largest-remainder query: D'Hondt is
    divisor-based, slightly favors large parties, and never exhibits the
    Alabama paradox. Quotients v/k fold out as a tiny (5 x 20) explode;
    the top-20 cut orders by (quotient DESC, party, k) so ties are
    deterministic; votes are integer-rounded exact decimals. Reports
    each region's seats vs raw vote share — the divergence IS the
    method's large-party bias."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    votes = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("party"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 0)
            .cast("bigint")
            .alias("v")
        )
    )
    ks = spark.range(1, 21).select(F.col("id").cast("int").alias("k"))
    quot = votes.crossJoin(F.broadcast(ks)).select(
        "party",
        "v",
        "k",
        (F.col("v").cast("double") / F.col("k").cast("double")).alias("q"),
    )
    top20 = quot.orderBy(F.desc("q"), "party", "k").limit(20)
    seats = top20.groupBy("party").agg(F.count(F.lit(1)).alias("seats"))
    tot = votes.agg(F.sum("v").alias("tv"))
    return (
        votes.join(seats, "party", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "party",
            F.col("v").cast("bigint").alias("votes"),
            F.coalesce("seats", F.lit(0)).cast("int").alias("seats"),
            F.round(
                F.col("v").cast("double") / F.col("tv").cast("double"), 6
            ).alias("vote_share"),
            F.round(
                F.coalesce("seats", F.lit(0)).cast("double")
                / F.lit(20).cast("double"),
                6,
            ).alias("seat_share"),
        )
        .orderBy(F.desc("seats"), "party")
    )


@register(
    "kendall_w_concordance",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS rater,
             CAST(strftime(CAST(o.o_orderdate AS DATE), '%m') AS INT)
               AS item,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS v
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
        AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
      GROUP BY 1, 2),
    ranked AS (
      SELECT rater, item,
             RANK() OVER (PARTITION BY rater ORDER BY v) AS rk
      FROM rev),
    per_item AS (
      SELECT item, SUM(rk) AS rsum FROM ranked GROUP BY item),
    mom AS (
      SELECT COUNT(*) AS n,
             (SELECT COUNT(DISTINCT rater) FROM rev) AS m,
             SUM(rsum * rsum) AS s2, SUM(rsum) AS s1
      FROM per_item)
    SELECT CAST(n AS INT) AS n_items,
           CAST(m AS INT) AS n_raters,
           ROUND((CAST(12 AS DOUBLE) * (CAST(s2 AS DOUBLE)
                  - CAST(s1 * s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(m * m AS DOUBLE)
                    * CAST(n * n * n - n AS DOUBLE)), 6) AS kendall_w,
           ROUND(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                 * ((CAST(12 AS DOUBLE) * (CAST(s2 AS DOUBLE)
                     - CAST(s1 * s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    / (CAST(m * m AS DOUBLE)
                       * CAST(n * n * n - n AS DOUBLE))), 6)
             AS friedman_chi2
    FROM mom
    """,
)
def kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W: do the five regions
    agree on the ranking of 1995's twelve months by revenue? Each
    region independently ranks the months (exact-decimal revenue, RANK
    with (value) order — revenue ties are measure-zero on decimals),
    W = 12*S/(m^2(n^3-n)) from the integer rank-sum moments, with the
    Friedman chi-square m(n-1)W alongside (the two are the same test
    re-scaled; the registered friedman_rank_test ranks a different
    design, W adds the agreement-strength interpretation 0..1).
    Everything is integer until the two final ratios."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.filter(
            (F.col("o_orderdate").cast("date") >= "1995-01-01")
            & (F.col("o_orderdate").cast("date") < "1996-01-01")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("rater"),
            F.month(F.col("o_orderdate").cast("date")).alias("item"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("v"))
    )
    ranked = rev.select(
        "rater",
        "item",
        F.rank().over(Window.partitionBy("rater").orderBy("v")).alias("rk"),
    )
    per_item = ranked.groupBy("item").agg(F.sum("rk").alias("rsum"))
    m_cnt = rev.agg(F.countDistinct("rater").alias("m"))
    mom = per_item.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rsum") * F.col("rsum")).alias("s2"),
        F.sum("rsum").alias("s1"),
    ).crossJoin(F.broadcast(m_cnt))
    w_expr = (
        "(CAST(12 AS DOUBLE) * (CAST(s2 AS DOUBLE)"
        " - CAST(s1 * s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
        " / (CAST(m * m AS DOUBLE) * CAST(n * n * n - n AS DOUBLE))"
    )
    return mom.selectExpr(
        "CAST(n AS INT) AS n_items",
        "CAST(m AS INT) AS n_raters",
        f"ROUND({w_expr}, 6) AS kendall_w",
        f"ROUND(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE) * ({w_expr}), 6)"
        " AS friedman_chi2",
    )


@register(
    "taylors_law_fluctuation_scaling",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    mom AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss
      FROM daily GROUP BY event_type),
    pts AS (
      SELECT event_type,
             LN(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS lx,
             LN((CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE))
                / CAST(n - 1 AS DOUBLE)) AS ly
      FROM mom),
    fit AS (
      SELECT COUNT(*) AS k,
             list_reduce(list(lx ORDER BY event_type), (a, b) -> a + b)
               AS sx,
             list_reduce(list(ly ORDER BY event_type), (a, b) -> a + b)
               AS sy,
             list_reduce(list(lx * lx ORDER BY event_type),
                         (a, b) -> a + b) AS sxx,
             list_reduce(list(lx * ly ORDER BY event_type),
                         (a, b) -> a + b) AS sxy
      FROM pts)
    SELECT CAST(k AS INT) AS n_types,
           ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)
                 / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
             AS taylor_exponent,
           ROUND(EXP((sy - ((CAST(k AS DOUBLE) * sxy - sx * sy)
                            / (CAST(k AS DOUBLE) * sxx - sx * sx)) * sx)
                     / CAST(k AS DOUBLE)), 6) AS taylor_coefficient
    FROM fit
    """,
)
def taylors_law_fluctuation_scaling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Taylor's power law (fluctuation scaling) across event types:
    regress log(variance) on log(mean) of each type's daily counts —
    the empirical law (variance ~ a * mean^b) whose exponent b
    diagnoses the arrival process: b=1 is Poisson-like, b->2 means
    multiplicative/bursty traffic, the single most portable burstiness
    summary across ecology, finance and ops. Mean/variance come from
    exact integer count moments per type; the 5-point OLS folds in
    type order. One hash-agg over the fact table, constant-size
    algebra after."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    d = lambda e: e.cast("double")  # noqa: E731
    pts = mom.select(
        "event_type",
        F.log(d(F.col("s")) / d(F.col("n"))).alias("lx"),
        F.log(
            (d(F.col("ss")) - d(F.col("s")) * d(F.col("s")) / d(F.col("n")))
            / d(F.col("n") - 1)
        ).alias("ly"),
    )
    fold = lambda body: F.expr(  # noqa: E731
        f"aggregate(transform(g, r -> {body}), CAST(0 AS DOUBLE), "
        "(a, b) -> a + b)"
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sort_array(
            F.collect_list(F.struct("event_type", "lx", "ly"))
        ).alias("g"),
    ).select(
        "k",
        fold("r.lx").alias("sx"),
        fold("r.ly").alias("sy"),
        fold("r.lx * r.lx").alias("sxx"),
        fold("r.lx * r.ly").alias("sxy"),
    )
    return fit.selectExpr(
        "CAST(k AS INT) AS n_types",
        "ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS taylor_exponent",
        "ROUND(EXP((sy - ((CAST(k AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(k AS DOUBLE) * sxx - sx * sx)) * sx)"
        " / CAST(k AS DOUBLE)), 6) AS taylor_coefficient",
    )


@register(
    "kelly_criterion_sizing",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY 1),
    chg AS (
      SELECT CAST(r - LAG(r) OVER (ORDER BY day) AS DOUBLE) AS delta
      FROM daily),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS nw,
             CAST(ROUND(SUM(CASE WHEN delta > 0
                        THEN CAST(delta AS DECIMAL(18,2)) END), 2)
                  AS DOUBLE) AS gain,
             CAST(ROUND(SUM(CASE WHEN delta < 0
                        THEN CAST(0 AS DECIMAL(18,2))
                             - CAST(delta AS DECIMAL(18,2)) END), 2)
                  AS DOUBLE) AS loss
      FROM chg WHERE delta IS NOT NULL),
    kelly AS (
      SELECT n, nw, gain, loss,
             CAST(nw AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             (gain / CAST(nw AS DOUBLE))
             / (loss / CAST(n - nw AS DOUBLE)) AS b
      FROM mom)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(p, 6) AS win_prob,
           ROUND(b, 6) AS win_loss_ratio,
           ROUND(p - (CAST(1 AS DOUBLE) - p) / b, 6) AS kelly_fraction,
           ROUND((p - (CAST(1 AS DOUBLE) - p) / b) / CAST(2 AS DOUBLE), 6)
             AS half_kelly
    FROM kelly
    """,
)
def kelly_criterion_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly-criterion bet sizing on the day-over-day revenue-change
    "game": win probability p = share of up-days, payoff odds b =
    average up-move over average down-move (both exact decimal sums),
    f* = p - (1-p)/b — the growth-optimal fraction, with the half-Kelly
    practitioners actually deploy. A two-window pipeline (one LAG, one
    agg); the Kelly algebra is four scalar double ops. Negative f*
    reads as "the edge is not there — don't bet", which is itself the
    diagnostic."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("r")
    )
    chg = daily.select(
        (F.col("r") - F.lag("r").over(Window.orderBy("day")))
        .cast("double")
        .alias("delta")
    ).filter(F.col("delta").isNotNull())
    dlt = F.col("delta").cast(_DEC)
    mom = chg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("nw"),
        F.round(F.sum(F.when(F.col("delta") > 0, dlt)), 2)
        .cast("double")
        .alias("gain"),
        F.round(
            F.sum(
                F.when(F.col("delta") < 0, F.lit(0).cast(_DEC) - dlt)
            ),
            2,
        )
        .cast("double")
        .alias("loss"),
    )
    kelly = mom.selectExpr(
        "n",
        "nw",
        "gain",
        "loss",
        "CAST(nw AS DOUBLE) / CAST(n AS DOUBLE) AS p",
        "(gain / CAST(nw AS DOUBLE)) / (loss / CAST(n - nw AS DOUBLE)) AS b",
    )
    return kelly.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "ROUND(p, 6) AS win_prob",
        "ROUND(b, 6) AS win_loss_ratio",
        "ROUND(p - (CAST(1 AS DOUBLE) - p) / b, 6) AS kelly_fraction",
        "ROUND((p - (CAST(1 AS DOUBLE) - p) / b) / CAST(2 AS DOUBLE), 6)"
        " AS half_kelly",
    )


@register(
    "elo_rating_replay",
    oracle="""
    WITH RECURSIVE
    rev AS (
      SELECT CAST(o.o_orderdate AS DATE) AS day, n.n_nationkey AS nk,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT day, nk,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY r DESC, nk) AS rk,
             COUNT(*) OVER (PARTITION BY day) AS m
      FROM rev),
    matches AS (
      SELECT day,
             MAX(CASE WHEN rk = 1 THEN nk END) AS w,
             MAX(CASE WHEN rk = 2 THEN nk END) AS l
      FROM ranked WHERE m >= 2 AND rk <= 2 GROUP BY day),
    grid AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, w, l FROM matches),
    nmatch AS (SELECT COUNT(*) AS nm FROM grid),
    elo(i, rt) AS (
      SELECT 0, list_transform(range(1, 26),
                               j -> CAST(1500 AS DOUBLE))
      UNION ALL
      SELECT g.i,
             list_transform(range(1, 26), j -> CASE
               WHEN j = g.w + 1 THEN
                 e.rt[g.w + 1] + CAST(32 AS DOUBLE)
                 * (CAST(1 AS DOUBLE)
                    - CAST(1 AS DOUBLE)
                      / (CAST(1 AS DOUBLE)
                         + EXP((e.rt[g.l + 1] - e.rt[g.w + 1])
                               / CAST(400 AS DOUBLE)
                               * CAST(2.302585092994046 AS DOUBLE))))
               WHEN j = g.l + 1 THEN
                 e.rt[g.l + 1] - CAST(32 AS DOUBLE)
                 * (CAST(1 AS DOUBLE)
                    - CAST(1 AS DOUBLE)
                      / (CAST(1 AS DOUBLE)
                         + EXP((e.rt[g.l + 1] - e.rt[g.w + 1])
                               / CAST(400 AS DOUBLE)
                               * CAST(2.302585092994046 AS DOUBLE))))
               ELSE e.rt[j] END)
      FROM elo e JOIN grid g ON g.i = e.i + 1),
    fin AS (SELECT rt FROM elo ORDER BY i DESC LIMIT 1),
    played AS (
      SELECT nk, COUNT(*) AS games FROM (
        SELECT w AS nk FROM grid UNION ALL SELECT l FROM grid)
      GROUP BY nk),
    out AS (
      SELECT u.j - 1 AS nk, f.rt[CAST(u.j AS INT)] AS rating
      FROM fin f, (SELECT UNNEST(range(1, 26)) AS j) u)
    SELECT n.n_name AS nation,
           CAST(COALESCE(p.games, 0) AS BIGINT) AS matches_played,
           ROUND(o.rating, 2) AS elo_rating
    FROM out o
    JOIN nation n ON n.n_nationkey = o.nk
    LEFT JOIN played p ON p.nk = o.nk
    ORDER BY ROUND(o.rating, 2) DESC, nation LIMIT 5
    """,
)
def elo_rating_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elo rating replay: every day the two top-revenue nations "play a
    match" (higher revenue wins, ties broken by nation key) and their
    ratings update by the classic K=32 logistic rule — the online
    pairwise-skill system behind chess, matchmaking and LLM arena
    leaderboards, here demonstrating order-dependent rating replay as a
    pure day-ordered fold. 10^(d/400) is computed as EXP(d/400 * ln10)
    with ln10 PINNED as a literal (pow() is not bit-portable across
    engines; EXP/LN are). The 25-slot rating vector updates in place by
    indexed transform; the oracle replays the identical arithmetic over
    a LIST column. Match extraction is one hash-agg + one tiny window;
    the fold is day-count-sized. Reports the top-5 final ratings with
    match counts."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("r"))
    )
    wday = Window.partitionBy("day")
    ranked = rev.select(
        "day",
        "nk",
        F.row_number().over(wday.orderBy(F.desc("r"), "nk")).alias("rk"),
        F.count(F.lit(1)).over(wday).alias("m"),
    )
    matches = (
        ranked.filter((F.col("m") >= 2) & (F.col("rk") <= 2))
        .groupBy("day")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("nk"))).alias("w"),
            F.max(F.when(F.col("rk") == 2, F.col("nk"))).alias("l"),
        )
    )
    arr = matches.agg(
        F.sort_array(F.collect_list(F.struct("day", "w", "l"))).alias("g")
    )
    ew = (
        "(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)"
        " + EXP((element_at(acc, CAST(x.l AS INT) + 1)"
        " - element_at(acc, CAST(x.w AS INT) + 1))"
        " / CAST(400 AS DOUBLE) * CAST(2.302585092994046 AS DOUBLE))))"
    )
    state = "transform(sequence(1, 25), j -> CAST(1500 AS DOUBLE))"
    step = (
        "(acc, x) -> transform(sequence(1, 25), j -> CASE "
        "WHEN j = CAST(x.w AS INT) + 1 THEN "
        f"element_at(acc, CAST(x.w AS INT) + 1) + CAST(32 AS DOUBLE)"
        f" * (CAST(1 AS DOUBLE) - {ew}) "
        "WHEN j = CAST(x.l AS INT) + 1 THEN "
        f"element_at(acc, CAST(x.l AS INT) + 1) - CAST(32 AS DOUBLE)"
        f" * (CAST(1 AS DOUBLE) - {ew}) "
        "ELSE element_at(acc, j) END)"
    )
    fin = arr.select(F.expr(f"aggregate(g, {state}, {step})").alias("rt"))
    played = (
        matches.select(F.col("w").alias("nk"))
        .unionAll(matches.select(F.col("l").alias("nk")))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("games"))
    )
    out = fin.select(
        F.posexplode("rt").alias("j0", "rating")
    ).select(F.col("j0").alias("nk"), "rating")
    return (
        out.join(F.broadcast(n), out.nk == n.n_nationkey)
        .join(F.broadcast(played), "nk", "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("games", F.lit(0)).cast("bigint").alias(
                "matches_played"
            ),
            F.round("rating", 2).alias("elo_rating"),
        )
        .orderBy(F.desc("elo_rating"), "nation")
        .limit(5)
    )


@register(
    "binseg_two_changepoints",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2))
                  * CAST(0.001 AS DECIMAL(4,3)) AS DECIMAL(12,5)) AS y
      FROM orders GROUP BY 1),
    pre AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day,
             CAST(SUM(y) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS p,
             CAST(ROUND(SUM(CAST(y * y AS DECIMAL(30,10))) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS DOUBLE) AS q
      FROM daily),
    tot AS (
      SELECT MAX(i) AS n, arg_max(p, i) AS pt, arg_max(q, i) AS qt
      FROM pre),
    best1 AS (
      SELECT pre.i AS k1, pre.day AS day1, pre.p AS pk, pre.q AS qk,
             {_BINSEG_T1} AS sse1, tot.n, tot.pt, tot.qt
      FROM pre, tot WHERE pre.i < tot.n
      ORDER BY sse1, k1 LIMIT 1),
    best2 AS (
      SELECT pre.i AS k2, pre.day AS day2,
             {_BINSEG_T2} AS sse2,
             b.k1, b.day1, b.sse1, b.n, b.pt, b.qt
      FROM pre, best1 b
      WHERE pre.i < b.n AND pre.i <> b.k1
      ORDER BY sse2, k2 LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days,
           LEAST(day1, day2) AS changepoint_1,
           GREATEST(day1, day2) AS changepoint_2,
           ROUND({_BINSEG_SSE0}, 2) AS sse_no_split,
           ROUND(sse1, 2) AS sse_one_split,
           ROUND(sse2, 2) AS sse_two_splits,
           ROUND(CAST(1 AS DOUBLE) - sse2 / ({_BINSEG_SSE0}), 6)
             AS variance_explained
    FROM best2
    """,
)
def binseg_two_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection with TWO breaks on the
    daily revenue series: greedily place the split that minimizes total
    within-segment SSE, then the best second split conditional on the
    first — the standard recursive scheme behind ruptures/PELT-style
    mean-shift detection, extending the registered single-break Chow
    scan. Segment costs come from exact-decimal prefix sums (revenue
    in thousands; the squared-sum prefix is ROUNDed to 2dp so its
    double cast stays under 2^53 — the decimal->double portability
    rule), so every candidate's cost is deterministic double algebra
    and both argmins order by (cost, index). Shape: one daily agg, one
    prefix window, two tiny argmin scans — never quadratic."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
            " AS DECIMAL(18,2)) * CAST(0.001 AS DECIMAL(4,3))"
            " AS DECIMAL(12,5))"
        ).alias("y")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"),
        "day",
        F.sum("y").over(wcum).cast("double").alias("p"),
        F.round(
            F.sum(F.expr("CAST(y * y AS DECIMAL(30,10))")).over(wcum), 2
        )
        .cast("double")
        .alias("q"),
    )
    tot = pre.agg(
        F.max("i").alias("n"),
        F.max_by("p", "i").alias("pt"),
        F.max_by("q", "i").alias("qt"),
    )
    best1 = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("i") < F.col("n"))
        .selectExpr(
            "i AS k1",
            "day AS day1",
            "p AS pk",
            "q AS qk",
            f"{_BINSEG_T1} AS sse1",
            "n",
            "pt",
            "qt",
        )
        .orderBy("sse1", "k1")
        .limit(1)
    )
    best2 = (
        pre.crossJoin(F.broadcast(best1))
        .filter((F.col("i") < F.col("n")) & (F.col("i") != F.col("k1")))
        .selectExpr(
            "i AS k2",
            "day AS day2",
            f"{_BINSEG_T2} AS sse2",
            "k1",
            "day1",
            "sse1",
            "n",
            "pt",
            "qt",
        )
        .orderBy("sse2", "k2")
        .limit(1)
    )
    return best2.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "LEAST(day1, day2) AS changepoint_1",
        "GREATEST(day1, day2) AS changepoint_2",
        f"ROUND({_BINSEG_SSE0}, 2) AS sse_no_split",
        "ROUND(sse1, 2) AS sse_one_split",
        "ROUND(sse2, 2) AS sse_two_splits",
        f"ROUND(CAST(1 AS DOUBLE) - sse2 / ({_BINSEG_SSE0}), 6)"
        " AS variance_explained",
    )


@register(
    "circular_stats_dow",
    oracle=f"""
    WITH daily AS (
      SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow, COUNT(*) AS n
      FROM orders GROUP BY 1),
    v AS (
      SELECT list(struct_pack(dow := dow, n := n) ORDER BY dow) AS xs,
             SUM(n) AS nt
      FROM daily),
    mom AS (
      SELECT nt,
             list_reduce(list_transform(xs,
               x -> CAST(x.n AS DOUBLE) * ({_COS7})[x.dow + 1]),
               (a, b) -> a + b) / CAST(nt AS DOUBLE) AS cb,
             list_reduce(list_transform(xs,
               x -> CAST(x.n AS DOUBLE) * ({_SIN7})[x.dow + 1]),
               (a, b) -> a + b) / CAST(nt AS DOUBLE) AS sb
      FROM v),
    rr AS (SELECT nt, cb, sb, SQRT(cb * cb + sb * sb) AS r FROM mom)
    SELECT CAST(nt AS BIGINT) AS n_orders,
           ROUND(cb, 6) AS mean_cos,
           ROUND(sb, 6) AS mean_sin,
           ROUND(r, 6) AS resultant_length,
           ROUND(CAST(1 AS DOUBLE) - r, 6) AS circular_variance,
           ROUND(CASE
             WHEN r < CAST(0.53 AS DOUBLE) THEN
               CAST(2 AS DOUBLE) * r + r * r * r
               + CAST(5 AS DOUBLE) * (r * r * r * r * r)
                 / CAST(6 AS DOUBLE)
             WHEN r < CAST(0.85 AS DOUBLE) THEN
               CAST(0 AS DOUBLE) - CAST(0.4 AS DOUBLE)
               + CAST(1.39 AS DOUBLE) * r
               + CAST(0.43 AS DOUBLE) / (CAST(1 AS DOUBLE) - r)
             ELSE CAST(1 AS DOUBLE)
                  / (r * r * r - CAST(4 AS DOUBLE) * (r * r)
                     + CAST(3 AS DOUBLE) * r) END, 6) AS vonmises_kappa,
           ROUND(CAST(nt AS DOUBLE) * (r * r), 4) AS rayleigh_z,
           ROUND(EXP(CAST(0 AS DOUBLE)
                     - CAST(nt AS DOUBLE) * (r * r)), 6) AS rayleigh_p
    FROM rr
    """,
)
def circular_stats_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of the order day-of-week
    distribution, treating weekdays as angles on the 7-point circle:
    mean resultant length R-bar, circular variance 1-R, the Best-Fisher
    von Mises concentration estimate kappa (three-branch approximation)
    and the Rayleigh uniformity test z = n*R^2 with its first-order
    p ~ exp(-z) — the statistics that respect wrap-around where a
    linear mean of weekday numbers is meaningless. The 14 cos/sin
    coefficients are PINNED double literals shared verbatim with the
    oracle (trig is not bit-portable; +,*,EXP,SQRT are); the moment
    folds run over the 7-row day-of-week histogram in day order —
    a single hash-agg at any scale."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("dow")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = daily.agg(
        F.sort_array(F.collect_list(F.struct("dow", "n"))).alias("xs"),
        F.sum("n").alias("nt"),
    )
    fold = lambda lits: (  # noqa: E731
        "aggregate(transform(xs, x -> CAST(x.n AS DOUBLE)"
        " * element_at(array("
        + lits.strip("[]")
        + "), x.dow + 1)), CAST(0 AS DOUBLE), "
        "(a, b) -> a + b) / CAST(nt AS DOUBLE)"
    )
    mom = v.selectExpr(
        "nt",
        f"{fold(_COS7)} AS cb",
        f"{fold(_SIN7)} AS sb",
    )
    rr = mom.selectExpr("nt", "cb", "sb", "SQRT(cb * cb + sb * sb) AS r")
    return rr.selectExpr(
        "CAST(nt AS BIGINT) AS n_orders",
        "ROUND(cb, 6) AS mean_cos",
        "ROUND(sb, 6) AS mean_sin",
        "ROUND(r, 6) AS resultant_length",
        "ROUND(CAST(1 AS DOUBLE) - r, 6) AS circular_variance",
        "ROUND(CASE"
        " WHEN r < CAST(0.53 AS DOUBLE) THEN"
        " CAST(2 AS DOUBLE) * r + r * r * r"
        " + CAST(5 AS DOUBLE) * (r * r * r * r * r) / CAST(6 AS DOUBLE)"
        " WHEN r < CAST(0.85 AS DOUBLE) THEN"
        " CAST(0 AS DOUBLE) - CAST(0.4 AS DOUBLE)"
        " + CAST(1.39 AS DOUBLE) * r"
        " + CAST(0.43 AS DOUBLE) / (CAST(1 AS DOUBLE) - r)"
        " ELSE CAST(1 AS DOUBLE)"
        " / (r * r * r - CAST(4 AS DOUBLE) * (r * r)"
        " + CAST(3 AS DOUBLE) * r) END, 6) AS vonmises_kappa",
        "ROUND(CAST(nt AS DOUBLE) * (r * r), 4) AS rayleigh_z",
        "ROUND(EXP(CAST(0 AS DOUBLE) - CAST(nt AS DOUBLE) * (r * r)), 6)"
        " AS rayleigh_p",
    )


__all__ = [
    'energy_distance_test',
    'jackknife_delete_group',
    'huber_location_m_estimator',
    'ppcc_exponentiality_test',
    'gumbel_block_maxima',
    'neyman_allocation',
    'poisson_bootstrap_ci',
    'preference_pairs_by_lang',
    'roc_auc_rank',
    'lorenz_curve_deciles',
    'dft_dow_harmonics',
    'precision_recall_at_k',
    'mmd_quadratic_drift',
    'mcc_confusion_metrics',
    'count_min_sketch_events',
    'levenshtein_blocked_matches',
    'iptw_stratified_ate',
    'croston_intermittent_demand',
    'ips_offline_policy_value',
    'granger_causality_daily',
    'hurst_rescaled_range',
    'kruskal_wallis_h',
    'welch_t_test_priority',
    'jonckheere_terpstra_trend',
    'cochran_q_event_types',
    'fleiss_kappa_returnflag',
    'kalman_local_level_filter',
    'holt_winters_additive',
    'pacf_durbin_levinson',
    'nelson_aalen_cumhazard',
    'epsilon_greedy_bandit_replay',
    'ams_f2_sketch',
    'ransac_line_fit',
    'cox_proportional_hazards',
    'bass_diffusion_fit',
    'good_turing_smoothing',
    'page_hinkley_drift',
    'competing_risks_cif',
    'rmst_restricted_mean',
    'inventory_ss_policy_replay',
    'lindley_queue_replay',
    'synthetic_control_lite',
    'event_study_leads_lags',
    'dhondt_seat_allocation',
    'kendall_w_concordance',
    'taylors_law_fluctuation_scaling',
    'kelly_criterion_sizing',
    'elo_rating_replay',
    'binseg_two_changepoints',
    'circular_stats_dow',
]
