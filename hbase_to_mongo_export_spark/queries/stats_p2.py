"""stats_p2 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403
from .text import bm25_search_topk  # noqa: E402



@register(
    "t_closeness_audit",
    oracle="""
    WITH cls AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS seg,
             o.o_orderpriority AS pr, COUNT(*) AS n
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3),
    cls_tot AS (
      SELECT nation, seg, SUM(n) AS cn FROM cls GROUP BY nation, seg),
    gdist AS (SELECT pr, SUM(n) AS g FROM cls GROUP BY pr),
    gtot AS (SELECT SUM(g) AS gt FROM gdist),
    -- per class and priority (ordered domain): |cumulative difference|
    -- of the scaled distributions, summed = EMD * cn * gt (exact int)
    full_grid AS (
      SELECT ct.nation, ct.seg, ct.cn, gl.pr, gl.g,
             COALESCE(c2.n, 0) AS n
      FROM cls_tot ct CROSS JOIN gdist gl
      LEFT JOIN cls c2 ON c2.nation = ct.nation AND c2.seg = ct.seg
                      AND c2.pr = gl.pr),
    cums AS (
      SELECT nation, seg, cn, pr,
             SUM(n * (SELECT gt FROM gtot) - cn * g)
               OVER (PARTITION BY nation, seg ORDER BY pr) AS cd
      FROM full_grid),
    emd AS (
      SELECT nation, seg, MAX(cn) AS class_size,
             CAST(SUM(ABS(cd)) AS BIGINT) AS emd_scaled
      FROM cums GROUP BY nation, seg)
    SELECT nation, seg, CAST(class_size AS BIGINT) AS class_size,
           emd_scaled,
           ROUND(CAST(emd_scaled AS DOUBLE) /
                 (4 * class_size * (SELECT gt FROM gtot)), 6) AS t_value
    FROM emd
    ORDER BY t_value DESC, nation, seg
    LIMIT 20
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness — the third privacy gate after k-anonymity and
    l-diversity: for each quasi-identifier class (nation, segment), the
    earth-mover's distance between its order-priority distribution and
    the global one, over the ordered 5-value domain. EMD on an ordered
    domain is the sum of |cumulative differences| — computed here on
    integer-scaled counts (n*GT - cn*g), so the distance is exact until
    one final normalized division (the /4 divides by the max cumulative
    span, putting t in [0,1]). Top-20 worst classes."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cls = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pr"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cls = op_cache.reuse(cls)
    cls_tot = cls.groupBy("nation", "seg").agg(F.sum("cnt").alias("cn"))
    glob = cls.groupBy("pr").agg(F.sum("cnt").alias("g"))
    gt = glob.agg(F.sum("g").alias("gt"))
    grid = (
        cls_tot.crossJoin(F.broadcast(glob))
        .join(
            cls.select(
                F.col("nation").alias("n2"),
                F.col("seg").alias("s2"),
                F.col("pr").alias("p2"),
                "cnt",
            ),
            (F.col("n2") == F.col("nation"))
            & (F.col("s2") == F.col("seg"))
            & (F.col("p2") == F.col("pr")),
            "left",
        )
        .crossJoin(F.broadcast(gt))
        .select(
            "nation",
            "seg",
            "cn",
            "pr",
            "g",
            "gt",
            F.coalesce("cnt", F.lit(0)).alias("n"),
        )
    )
    wc = Window.partitionBy("nation", "seg").orderBy("pr")
    cums = grid.select(
        "nation",
        "seg",
        "cn",
        "gt",
        F.sum(
            F.col("n") * F.col("gt") - F.col("cn") * F.col("g")
        )
        .over(wc)
        .alias("cd"),
    )
    emd = cums.groupBy("nation", "seg").agg(
        F.max("cn").alias("class_size"),
        F.sum(F.abs("cd")).cast("bigint").alias("emd_scaled"),
        F.max("gt").alias("gt"),
    )
    w = Window.orderBy(F.desc("t_value"), "nation", "seg")
    scored = emd.select(
        "nation",
        "seg",
        F.col("class_size").cast("bigint").alias("class_size"),
        "emd_scaled",
        F.round(
            F.col("emd_scaled").cast("double")
            / (F.lit(4) * F.col("class_size") * F.col("gt")),
            6,
        ).alias("t_value"),
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
        .orderBy(F.desc("t_value"), "nation", "seg")
    )


@register(
    "group_kfold_assignment",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':gf'), 1, 15)
                  AS BIGINT) % 4 AS fold_id
      FROM (SELECT DISTINCT user_id FROM events)),
    ev AS (
      SELECT e.user_id, e.event_id, f.fold_id
      FROM events e JOIN f ON f.user_id = e.user_id)
    SELECT CAST(fold_id AS INT) AS fold_id,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM ev GROUP BY fold_id ORDER BY fold_id
    """,
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP k-fold: folds assigned at the USER level (salted md5 on the
    entity, not the row) so no user's events span folds — the assignment
    that prevents entity leakage in behavioral models, where plain
    row-hash folds silently train and test on the same user. Per-fold
    user/event counts expose the group-size imbalance the trade-off
    costs."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":gf"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    f = users.select("user_id", fold.cast("int").alias("fold_id"))
    return (
        ev.join(F.broadcast(f), "user_id")
        .groupBy("fold_id")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
        )
        .orderBy("fold_id")
    )


@register(
    "top_k_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS priority,
             CAST(FLOOR(o_totalprice / 1000) * 1000 AS BIGINT) AS price_band,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(FLOOR(o_totalprice / 1000) AS BIGINT)
                                   DESC) AS rk,
             o_orderkey
      FROM orders)
    SELECT priority, price_band, CAST(rk AS INT) AS rk,
           COUNT(*) AS n_tied
    FROM r WHERE rk <= 3
    GROUP BY priority, price_band, rk
    ORDER BY priority, rk, price_band
    """,
)
def top_k_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES semantics (FETCH FIRST k WITH TIES): RANK over
    banded order totals keeps EVERY row tied at the cutoff — where
    row_number() would arbitrarily drop tied rows, the difference that
    corrupts leaderboards. The bands manufacture real ties; the tied-row
    counts per rank prove they survived."""
    o = _t(spark, sf_dir, "orders")
    band = (F.floor(F.col("o_totalprice") / 1000) * 1000).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").desc()
    )
    r = o.select(
        F.col("o_orderpriority").alias("priority"),
        band.alias("price_band"),
        F.rank().over(w).alias("rk"),
    )
    return (
        r.filter(F.col("rk") <= 3)
        .groupBy("priority", "price_band", F.col("rk").cast("int").alias("rk"))
        .agg(F.count(F.lit(1)).alias("n_tied"))
        .orderBy("priority", "rk", "price_band")
    )


@register(
    "seasonal_adjusted_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1),
    dow AS (
      SELECT isodow(d) - 1 AS wd, SUM(n) AS sn, COUNT(*) AS nd
      FROM daily GROUP BY 1),
    adj AS (
      -- seasonally adjusted count: n scaled by nd/sn (exact rational,
      -- kept as the integer pair n*nd and sn)
      SELECT d, n, isodow(d) - 1 AS wd,
             CAST(n AS DOUBLE) * dow.nd / dow.sn AS a
      FROM daily JOIN dow ON dow.wd = isodow(d) - 1),
    stats AS (
      SELECT COUNT(*) AS cnt, SUM(a) AS sa, SUM(a * a) AS saa FROM adj)
    SELECT CAST(adj.d AS TIMESTAMP) AS day, CAST(adj.n AS BIGINT) AS n_events,
           ROUND(adj.a, 6) AS seasonally_adjusted,
           ROUND((adj.a - sa / cnt) /
                 SQRT(GREATEST(saa / cnt - (sa / cnt) * (sa / cnt),
                               CAST(1e-12 AS DOUBLE))), 4) AS z_score
    FROM adj, stats
    WHERE ABS((adj.a - sa / cnt) /
              SQRT(GREATEST(saa / cnt - (sa / cnt) * (sa / cnt),
                            CAST(1e-12 AS DOUBLE)))) > 1.5
    ORDER BY day
    """,
)
def seasonal_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the composition a raw
    z-score gets wrong (every weekend would alert): daily counts divide
    by their day-of-week seasonal factor first, then z-scores flag days
    |z| > 1.5 against the ADJUSTED series. The adjusted values are
    single-expression doubles from exact integers (n * nd / sn — same
    op order both engines) so moments and thresholds agree bit-for-bit.
    One scan, two aggregates, no window."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dow = daily.groupBy(F.weekday("d").alias("wd")).agg(
        F.sum("n").alias("sn"), F.count(F.lit(1)).alias("nd")
    )
    adj = daily.join(
        F.broadcast(dow), F.weekday(F.col("d")) == F.col("wd")
    ).select(
        "d",
        "n",
        (F.col("n").cast("double") * F.col("nd") / F.col("sn")).alias("a"),
    )
    stats = adj.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("a").alias("sa"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
    )
    z = (F.col("a") - F.col("sa") / F.col("cnt")) / F.sqrt(
        F.greatest(
            F.col("saa") / F.col("cnt")
            - (F.col("sa") / F.col("cnt")) * (F.col("sa") / F.col("cnt")),
            F.lit(1e-12),
        )
    )
    return (
        adj.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) > 1.5)
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round("a", 6).alias("seasonally_adjusted"),
            F.round(z, 4).alias("z_score"),
        )
        .orderBy("day")
    )


@register(
    "zorder_block_pruning_audit",
    oracle=f"""
    WITH pts AS (
      SELECT (o_custkey % 256) AS x,
             CAST(FLOOR(o_totalprice / 2500) AS BIGINT) % 256 AS y
      FROM orders),
    coded AS (
      SELECT x, y,
             ({_MORTON_DUCK.format(x="x", y="y")}) AS zcode,
             x * 256 + y AS rcode
      FROM pts),
    matched AS (
      SELECT * FROM coded
      WHERE x >= 64 AND x < 96 AND y >= 32 AND y < 64)
    SELECT (SELECT COUNT(*) FROM matched) AS n_matched,
           (SELECT COUNT(DISTINCT zcode >> 6) FROM matched)
             AS zorder_blocks_touched,
           (SELECT COUNT(DISTINCT rcode >> 6) FROM matched)
             AS rowmajor_blocks_touched,
           (SELECT COUNT(DISTINCT zcode >> 6) FROM coded)
             AS zorder_blocks_total,
           (SELECT COUNT(DISTINCT rcode >> 6) FROM coded)
             AS rowmajor_blocks_total
    """,
)
def zorder_block_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY Z-order works, as a measured number: orders mapped onto a
    256x256 (customer-bucket, price-band) grid, codes assigned by bit
    interleave (Morton) vs row-major, 64-cell blocks; a 32x32 rectangle
    query touches far fewer Morton blocks than row-major ones — the
    min/max-pruning win data-skipping formats get from Z-order
    clustering (see plans/layout.py for the writer side). Pure integer
    bit arithmetic, identical in both engines."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.floor(F.col("o_totalprice") / 2500).cast("bigint") % 256).alias("y"),
    )
    coded = pts.select(
        "x",
        "y",
        F.expr(_MORTON_SPARK.format(x="x", y="y")).alias("zcode"),
        (F.col("x") * 256 + F.col("y")).alias("rcode"),
    )
    coded = op_cache.reuse(coded)
    matched = coded.filter(
        (F.col("x") >= 64) & (F.col("x") < 96)
        & (F.col("y") >= 32) & (F.col("y") < 64)
    )
    zb = F.expr("shiftright(zcode, 6)")
    rb = F.expr("shiftright(rcode, 6)")
    m = matched.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.countDistinct(zb).alias("zorder_blocks_touched"),
        F.countDistinct(rb).alias("rowmajor_blocks_touched"),
    )
    t = coded.agg(
        F.countDistinct(zb).alias("zorder_blocks_total"),
        F.countDistinct(rb).alias("rowmajor_blocks_total"),
    )
    return m.crossJoin(F.broadcast(t))


@register(
    "sprt_sequential_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             COUNT(*) AS n
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    llr AS (
      SELECT d, c, n,
             SUM(c * ln(CAST(0.55 AS DOUBLE) / CAST(0.5 AS DOUBLE)) +
                 (n - c) * ln(CAST(0.45 AS DOUBLE) / CAST(0.5 AS DOUBLE)))
               OVER (ORDER BY d) AS cum_llr
      FROM daily),
    crossing AS (
      SELECT MIN(d) AS first_cross
      FROM llr WHERE ABS(cum_llr) > ln(CAST(19 AS DOUBLE))),
    last_row AS (SELECT cum_llr FROM llr ORDER BY d DESC LIMIT 1)
    SELECT (SELECT COUNT(*) FROM llr) AS n_days,
           ROUND(ln(CAST(19 AS DOUBLE)), 6) AS threshold,
           CAST((SELECT first_cross FROM crossing) AS TIMESTAMP)
             AS first_crossing_day,
           ROUND(cum_llr, 6) AS final_llr,
           CASE WHEN cum_llr > ln(CAST(19 AS DOUBLE)) THEN 'accept_h1'
                WHEN cum_llr < -ln(CAST(19 AS DOUBLE)) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM last_row
    """,
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability-ratio test on the daily click-share
    series (H1: p=0.55 vs H0: p=0.5, error bounds alpha=beta=0.05 giving
    the ln(19) thresholds): the cumulative log-likelihood ratio is a
    RUNNING window sum — order-defined accumulation, so the doubles
    agree across engines — and the first boundary-crossing day is when a
    sequential experiment would have stopped, the early-stopping
    discipline fixed-horizon A/B tests lack."""
    ev = _t(spark, sf_dir, "events")
    import math as _math

    l1 = _math.log(0.55 / 0.5)
    l0 = _math.log(0.45 / 0.5)
    thr = _math.log(19.0)
    daily = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wd = Window.orderBy("d")
    llr = daily.select(
        "d",
        F.sum(
            F.col("c") * F.lit(l1) + (F.col("n") - F.col("c")) * F.lit(l0)
        )
        .over(wd)
        .alias("cum_llr"),
    )
    llr = op_cache.reuse(llr)
    crossing = llr.filter(F.abs("cum_llr") > thr).agg(
        F.min("d").alias("first_cross")
    )
    wlast = Window.orderBy(F.desc("d"))
    last = (
        llr.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("cum_llr")
    )
    cnt = llr.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        cnt.crossJoin(F.broadcast(last))
        .crossJoin(F.broadcast(crossing))
        .select(
            "n_days",
            F.round(F.lit(thr), 6).alias("threshold"),
            F.col("first_cross").cast("timestamp").alias("first_crossing_day"),
            F.round("cum_llr", 6).alias("final_llr"),
            F.when(F.col("cum_llr") > thr, "accept_h1")
            .when(F.col("cum_llr") < -thr, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
    )


@register(
    "exact_kth_selection",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM orders),
    k AS (SELECT CAST(CEIL(n * 0.999) AS BIGINT) AS k FROM n)
    SELECT (SELECT n FROM n) AS n_rows,
           (SELECT k FROM k) AS k,
           (SELECT o_totalprice FROM orders
            ORDER BY o_totalprice, o_orderkey
            LIMIT 1 OFFSET (SELECT k - 1 FROM k)) AS kth_value
    """,
)
def exact_kth_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistic without a global sort — the two-phase
    selection that finds the true P99.9 at 100 TB: phase 1 histograms
    values into 1000-unit buckets (map-side combine, a few hundred
    grouped rows to the driver), locates the bucket holding rank k from
    cumulative counts; phase 2 sorts ONLY that bucket's rows and picks
    the offset. The oracle is the brute-force ORDER BY ... OFFSET —
    trivially correct, quadratically more expensive at scale (a full
    sort vs one bucket's)."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    o = op_cache.reuse(o)
    n = o.count()
    import math as _math

    k = _math.ceil(n * 0.999)
    hist = (
        o.groupBy(F.floor(F.col("o_totalprice") / 1000).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("b")
        .collect()
    )
    cum = 0
    target_bucket, offset_in_bucket = None, None
    for r in hist:
        if cum + r["c"] >= k:
            target_bucket, offset_in_bucket = r["b"], k - cum
            break
        cum += r["c"]
    bucket_rows = o.filter(
        F.floor(F.col("o_totalprice") / 1000) == target_bucket
    )
    w = Window.orderBy("o_totalprice", "o_orderkey")
    kth = (
        bucket_rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == offset_in_bucket)
        .select(F.col("o_totalprice").alias("kth_value"))
    )
    return kth.select(
        F.lit(n).cast("bigint").alias("n_rows"),
        F.lit(k).cast("bigint").alias("k"),
        "kth_value",
    )


@register(
    "business_days_latency",
    oracle="""
    WITH pairs AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS d1,
             CAST(l.l_shipdate AS DATE) AS d2
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_linenumber = 1),
    bd AS (
      -- business days in (d1, d2] = W(d2) - W(d1), where W(d) counts
      -- weekdays from the Monday epoch 1990-01-01 through d inclusive:
      -- 5 per complete week + min(partial-week days, 5). Verified
      -- against numpy busday_count over a 2400-pair grid.
      SELECT o_orderkey, d1, d2,
             (5 * ((d2 - DATE '1990-01-01') // 7) +
              LEAST((d2 - DATE '1990-01-01') % 7 + 1, 5)) -
             (5 * ((d1 - DATE '1990-01-01') // 7) +
              LEAST((d1 - DATE '1990-01-01') % 7 + 1, 5)) AS bdays
      FROM pairs)
    SELECT CAST(bdays AS BIGINT) AS business_days,
           COUNT(*) AS n_orders
    FROM bd GROUP BY bdays ORDER BY business_days
    """,
)
def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship latency in BUSINESS days — the finance/SLA
    calendar arithmetic calendar-day deltas get wrong: the count is the
    difference of a cumulative-weekday prefix function anchored at a
    Monday epoch (5 per complete week + min(partial days, 5)), verified
    independently against numpy busday_count. Pure integer date
    arithmetic; the histogram shape immediately exposes the
    weekend plateaus a calendar-day histogram smears."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    pairs = o.join(li, li.l_orderkey == o.o_orderkey).select(
        F.to_date("o_orderdate").alias("d1"),
        F.to_date("l_shipdate").alias("d2"),
    )
    def wcount(col):
        days = F.datediff(col, F.lit("1990-01-01"))  # epoch is a Monday
        return F.expr(f"5 * (datediff({col}, DATE '1990-01-01') div 7)") + F.least(
            days % 7 + 1, F.lit(5)
        )

    bdays = wcount("d2") - wcount("d1")
    return (
        pairs.select(bdays.cast("bigint").alias("business_days"))
        .groupBy("business_days")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("business_days")
    )


@register(
    "source_overlap_jaccard",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source,
             list_aggregate(words[i:i+2], 'string_agg', ' ') AS g
      FROM (SELECT source,
                   string_split_regex(regexp_replace(lower(trim(text)),
                                                     '\\s+', ' ', 'g'),
                                      ' ') AS words
            FROM documents) t,
           UNNEST(range(1, len(words) - 1)) AS u(i)),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS both
      FROM sh a JOIN sh b ON b.g = a.g AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.s1, i.s2,
           CAST(i.both AS BIGINT) AS n_shared,
           CAST(x.n AS BIGINT) AS n_s1, CAST(y.n AS BIGINT) AS n_s2,
           ROUND(CAST(i.both AS DOUBLE) / (x.n + y.n - i.both), 6)
             AS jaccard
    FROM inter i JOIN sizes x ON x.source = i.s1
    JOIN sizes y ON y.source = i.s2
    ORDER BY s1, s2
    """,
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus overlap: exact Jaccard between every pair of
    sources over their 3-gram shingle VOCABULARIES (distinct shingles
    per source, intersected by an inverted-index join on the shingle —
    never a pairwise document comparison). The crawl-curation dashboard
    number that says which feeds are rebranded copies of each other.
    Cost ∝ Σ per-shingle source-pair combinations — bounded by the
    number of sources squared per shingle, tiny."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.split(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
        ).alias("ws"),
    ).filter(F.size("ws") >= 3)
    sh = (
        words.select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3), "
                    "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sh = op_cache.reuse(sh)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.select(F.col("source").alias("s2"), F.col("g").alias("g2"))
    inter = (
        a.join(b, (F.col("g2") == F.col("g")) & (F.col("source") < F.col("s2")))
        .groupBy(F.col("source").alias("s1"), "s2")
        .agg(F.count(F.lit(1)).alias("both"))
    )
    x = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n_s1"))
    y = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n_s2"))
    return (
        inter.join(F.broadcast(x), "s1")
        .join(F.broadcast(y), "s2")
        .select(
            "s1",
            "s2",
            F.col("both").cast("bigint").alias("n_shared"),
            F.col("n_s1").cast("bigint").alias("n_s1"),
            F.col("n_s2").cast("bigint").alias("n_s2"),
            F.round(
                F.col("both").cast("double")
                / (F.col("n_s1") + F.col("n_s2") - F.col("both")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


@register(
    "yoy_aligned_growth",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1),
    lagd AS (
      SELECT m, rev, LAG(rev, 12) OVER (ORDER BY m) AS rev_ly
      FROM monthly)
    SELECT CAST(m AS TIMESTAMP) AS month,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev_ly AS DOUBLE) AS revenue_last_year,
           ROUND((CAST(rev AS DOUBLE) - CAST(rev_ly AS DOUBLE)) /
                 CAST(rev_ly AS DOUBLE), 6) AS yoy_growth
    FROM lagd WHERE rev_ly IS NOT NULL
    ORDER BY month
    """,
)
def yoy_aligned_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth with CALENDAR alignment: monthly DECIMAL
    revenue lagged 12 observations over the month spine (not 365 days —
    month arithmetic is what keeps Feb comparing to Feb). The window
    runs over the aggregated series, so the fact scan feeds one shuffle
    regardless of history length."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("decimal(18,2)")
        .alias("rev")
    )
    w = Window.orderBy("m")
    lagd = monthly.select(
        "m", "rev", F.lag("rev", 12).over(w).alias("rev_ly")
    ).filter(F.col("rev_ly").isNotNull())
    return lagd.select(
        F.col("m").cast("timestamp").alias("month"),
        F.col("rev").cast("double").alias("revenue"),
        F.col("rev_ly").cast("double").alias("revenue_last_year"),
        F.round(
            (F.col("rev").cast("double") - F.col("rev_ly").cast("double"))
            / F.col("rev_ly").cast("double"),
            6,
        ).alias("yoy_growth"),
    ).orderBy("month")


@register(
    "skyline_price_quantity",
    oracle="""
    WITH cand AS (
      -- per-quantity min price: the only point at each quantity that
      -- can possibly be on the skyline (dominance pre-pruning)
      SELECT l_quantity AS q, MIN(l_extendedprice) AS p
      FROM lineitem GROUP BY l_quantity),
    sky AS (
      SELECT c.q, c.p FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM cand d
        WHERE d.q >= c.q AND d.p <= c.p AND (d.q > c.q OR d.p < c.p)))
    SELECT CAST(q AS DOUBLE) AS quantity, CAST(p AS DOUBLE) AS min_price
    FROM sky ORDER BY quantity
    """,
)
def skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKYLINE (Pareto-frontier) operator — maximize quantity while
    minimizing price: no surviving point is dominated by another that is
    at least as good on both axes and strictly better on one. The naive
    skyline is an O(n²) self-join over the fact table; the scalable
    reduction computes per-quantity minimum price FIRST (a hash
    aggregate — only those points can be on the frontier), shrinking the
    dominance check to |distinct quantities|² on broadcastable input."""
    li = _t(spark, sf_dir, "lineitem")
    cand = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.min("l_extendedprice").alias("p")
    )
    cand = op_cache.reuse(cand)
    d = cand.select(F.col("q").alias("dq"), F.col("p").alias("dp"))
    dominated = cand.join(
        F.broadcast(d),
        (F.col("dq") >= F.col("q"))
        & (F.col("dp") <= F.col("p"))
        & ((F.col("dq") > F.col("q")) | (F.col("dp") < F.col("p"))),
        "left_semi",
    )
    sky = cand.join(dominated, ["q", "p"], "left_anti")
    return sky.select(
        F.col("q").cast("double").alias("quantity"),
        F.col("p").cast("double").alias("min_price"),
    ).orderBy("quantity")


@register(
    "fractional_knapsack_revenue",
    oracle="""
    WITH items AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             CAST(l_extendedprice AS DOUBLE) / l_quantity AS ratio
      FROM lineitem WHERE l_quantity > 0),
    budget AS (
      SELECT CAST(SUM(q) AS BIGINT) // 100 AS b FROM items),
    ranked AS (
      SELECT q, v, ratio,
             SUM(q) OVER (ORDER BY ratio DESC, l_orderkey, l_linenumber)
               AS cumq
      FROM items),
    taken AS (
      SELECT
        CAST(SUM(CASE WHEN cumq <= (SELECT b FROM budget)
                      THEN v ELSE CAST(0 AS DECIMAL(18,2)) END)
             AS DECIMAL(20,2)) AS full_value,
        CAST(SUM(CASE WHEN cumq <= (SELECT b FROM budget)
                      THEN q ELSE 0 END) AS BIGINT) AS full_qty,
        -- the boundary item is the FIRST row past the budget in rank
        -- order = the max ratio among them (ratios descend with rank)
        MAX(CASE WHEN cumq > (SELECT b FROM budget) THEN ratio END)
          AS frac_ratio
      FROM ranked)
    SELECT (SELECT b FROM budget) AS quantity_budget,
           full_qty AS whole_items_qty,
           CAST(ROUND(CAST(full_value AS DOUBLE) +
                      COALESCE(frac_ratio, 0) *
                      ((SELECT b FROM budget) - full_qty), 2) AS DOUBLE)
             AS max_revenue
    FROM taken
    """,
)
def fractional_knapsack_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional knapsack by greedy density — provably optimal for the
    divisible case: line items ranked by unit price, taken whole while
    the running quantity fits the budget (1% of total supply), the
    boundary item taken fractionally. Whole-item value accumulates in
    DECIMAL; the single fractional term is the only float product. The
    running-quantity window replaces any sequential greedy loop — the
    sort IS the algorithm."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    items = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
        (F.col("l_extendedprice").cast("double") / F.col("l_quantity")).alias(
            "ratio"
        ),
    )
    items = op_cache.reuse(items)
    b = items.agg(F.expr("CAST(sum(q) AS BIGINT) div 100").alias("b"))
    wr = Window.orderBy(
        F.desc("ratio"), "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = items.select(
        "q", "v", "ratio", F.sum("q").over(wr).alias("cumq")
    ).crossJoin(F.broadcast(b))
    taken = ranked.agg(
        F.sum(
            F.when(F.col("cumq") <= F.col("b"), F.col("v")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("decimal(20,2)")
        .alias("full_value"),
        F.sum(F.when(F.col("cumq") <= F.col("b"), F.col("q")).otherwise(0))
        .cast("bigint")
        .alias("full_qty"),
        F.max(
            F.when(F.col("cumq") > F.col("b"), F.col("ratio"))
        ).alias("frac_ratio"),
        F.max("b").alias("b"),
    )
    return taken.select(
        F.col("b").alias("quantity_budget"),
        F.col("full_qty").alias("whole_items_qty"),
        F.round(
            F.col("full_value").cast("double")
            + F.coalesce(F.col("frac_ratio"), F.lit(0.0))
            * (F.col("b") - F.col("full_qty")),
            2,
        )
        .cast("double")
        .alias("max_revenue"),
    )


@register(
    "longest_activity_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS len, MIN(d) AS streak_start
      FROM grp GROUP BY user_id, island),
    best AS (
      SELECT user_id, len, streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY len DESC, streak_start) AS rk
      FROM streaks)
    SELECT user_id, CAST(len AS BIGINT) AS longest_streak_days,
           CAST(streak_start AS TIMESTAMP) AS streak_start
    FROM best WHERE rk = 1
    ORDER BY longest_streak_days DESC, user_id
    LIMIT 20
    """,
)
def longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the retention
    metric product teams actually ship: distinct active days, the
    date-minus-rank islands trick groups consecutive runs without any
    self-join, and the per-user argmax picks the longest (earliest on
    ties). Top-20 streakiest users."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wr = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(wr)).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("len"), "streak_start"
    )
    best = (
        streaks.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
    )
    wtop = Window.orderBy(F.desc("len"), "user_id")
    return (
        best.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak_days"),
            F.col("streak_start").cast("timestamp").alias("streak_start"),
        )
        .orderBy(F.desc("longest_streak_days"), "user_id")
    )


@register(
    "revenue_bridge_monthly",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1),
    lagd AS (
      SELECT m, n, rev,
             LAG(n) OVER (ORDER BY m) AS n0,
             LAG(rev) OVER (ORDER BY m) AS rev0
      FROM monthly),
    eff AS (
      SELECT m, rev, rev0, n0,
             CAST((n0 * rev - n * rev0) * 100 AS BIGINT) AS pe_num,
             CAST(rev0 * (n - n0) * 100 AS BIGINT) AS ve_num
      FROM lagd WHERE n0 IS NOT NULL)
    SELECT CAST(m AS TIMESTAMP) AS month,
           CAST((rev - rev0) * 100 AS BIGINT) AS d_revenue_cents,
           -- integer cents, half away from zero: DECIMAL numerators and
           -- integer division only — no double ROUND whose midpoint
           -- behavior differs between engines (Spark rounds the shortest
           -- decimal string, DuckDB the binary value)
           (CASE WHEN pe_num < 0 THEN -1 ELSE 1 END) *
           ((2 * ABS(pe_num) + n0) // (2 * n0)) AS price_effect_cents,
           (CASE WHEN ve_num < 0 THEN -1 ELSE 1 END) *
           ((2 * ABS(ve_num) + n0) // (2 * n0)) AS volume_effect_cents
    FROM eff
    ORDER BY month
    """,
)
def revenue_bridge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (the finance waterfall): month-over-month revenue
    change decomposed EXACTLY into a price effect (current volume times
    the change in average order value) and a volume effect (prior
    average value times the order-count change) — the two terms sum to
    the delta identically, no residual (verified algebraically:
    n·Δavg + avg₀·Δn = Δrev). Everything is reported in INTEGER CENTS
    with explicit half-away-from-zero integer rounding — DECIMAL
    numerators divided by integer denominators never touch a double
    ROUND, whose midpoint behavior differs between engines (Spark
    rounds the double's shortest decimal string, DuckDB its binary
    value — a 1-cent trap this query originally hit)."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("decimal(18,2)")
        .alias("rev"),
    )
    w = Window.orderBy("m")
    lagd = monthly.select(
        "m",
        "n",
        "rev",
        F.lag("n").over(w).alias("n0"),
        F.lag("rev").over(w).alias("rev0"),
    ).filter(F.col("n0").isNotNull())
    eff = lagd.select(
        "m",
        "n0",
        ((F.col("rev") - F.col("rev0")) * 100)
        .cast("bigint")
        .alias("d_revenue_cents"),
        ((F.col("n0") * F.col("rev") - F.col("n") * F.col("rev0")) * 100)
        .cast("bigint")
        .alias("pe_num"),
        ((F.col("rev0") * (F.col("n") - F.col("n0"))) * 100)
        .cast("bigint")
        .alias("ve_num"),
    )

    def half_away(num):
        sign = F.when(F.col(num) < 0, -1).otherwise(1)
        return sign * F.expr(f"(2 * ABS({num}) + n0) div (2 * n0)")

    return eff.select(
        F.col("m").cast("timestamp").alias("month"),
        "d_revenue_cents",
        half_away("pe_num").alias("price_effect_cents"),
        half_away("ve_num").alias("volume_effect_cents"),
    ).orderBy("month")


@register(
    "autocomplete_prefix_index",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''),
    freq AS (SELECT t, COUNT(*) AS n FROM w WHERE len(t) >= 2 GROUP BY t),
    pre AS (
      SELECT substr(t, 1, CAST(u.i AS INT)) AS prefix, t, n
      FROM freq, UNNEST(range(1, LEAST(len(t), 3) + 1)) AS u(i)),
    ranked AS (
      SELECT prefix, t, n,
             ROW_NUMBER() OVER (PARTITION BY prefix
                                ORDER BY n DESC, t) AS rk
      FROM pre)
    SELECT prefix, t AS completion, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3 AND len(prefix) = 2
    ORDER BY prefix, rk
    """,
)
def autocomplete_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index build: every word explodes into its prefixes
    (lengths 1-3), top-3 completions per prefix by corpus frequency with
    deterministic tiebreaks — the batch job behind a typeahead service.
    Emitted rows here are the 2-char-prefix shard; at scale the prefix
    is the natural shard/partition key and each group's top-k is one
    rank window."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.filter(F.trim("text") != "").select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
    )
    freq = (
        w.filter(F.length("t") >= 2)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pre = freq.select(
        "t",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, least(length(t), 3)), "
                "i -> substr(t, 1, i))"
            )
        ).alias("prefix"),
    )
    rw = Window.partitionBy("prefix").orderBy(F.desc("n"), "t")
    return (
        pre.withColumn("rk", F.row_number().over(rw))
        .filter((F.col("rk") <= 3) & (F.length("prefix") == 2))
        .select(
            "prefix",
            F.col("t").alias("completion"),
            F.col("n").cast("bigint").alias("n"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("prefix", "rk")
    )


@register(
    "csv_dialect_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(0 AS BIGINT) AS n_mismatched,
           CAST(SUM(CASE WHEN text LIKE '%scan%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_marker
    FROM documents
    """,
)
def csv_dialect_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV DIALECT edge cases round-tripped: document text is wrapped
    into adversarial CSV content — embedded delimiters, double quotes,
    and literal newlines injected deterministically — written with
    quoting+escaping enabled and read back with multiLine parsing. The
    query returns the mismatch count against the pre-write values,
    structurally zero only if quoting, escaping, and multi-line parsing
    all survive; the oracle asserts that zero. This is the fidelity
    corner plain format round-trips never touch."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    docs = _t(spark, sf_dir, "documents")
    gnarly = docs.select(
        "doc_id",
        F.concat(
            F.lit('prefix,"with,commas" and "quotes"\n'),
            F.col("text"),
            F.lit('\nsuffix,"quoted,tail"'),
        ).alias("payload"),
        F.col("text").alias("orig"),
    )
    out = _tempfile.mkdtemp(prefix="csvdialect_")
    try:
        gnarly.select("doc_id", "payload").write.mode("overwrite").option(
            "header", True
        ).option("quoteAll", True).csv(out)
        back = (
            spark.read.option("header", True)
            .option("multiLine", True)
            .option("inferSchema", False)
            .csv(out)
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("payload").alias("back_payload"),
            )
        )
        joined = gnarly.join(back, "doc_id", "full_outer")
        res = joined.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("payload").isNull()
                    | F.col("back_payload").isNull()
                    | (F.col("payload") != F.col("back_payload")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_mismatched"),
            F.sum(
                F.when(F.col("orig").like("%scan%"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_with_marker"),
        ).collect()[0]
        return spark.createDataFrame(
            [tuple(res)],
            "n_rows bigint, n_mismatched bigint, n_with_marker bigint",
        )
    finally:
        _shutil.rmtree(out, ignore_errors=True)


@register("kcenter_coreset_selection", oracle=_kcenter_oracle())
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection (Gonzalez' 2-approximation) —
    the diversity-sampling primitive for picking maximally-spread
    training examples: start from the minimum id, repeatedly take the
    point farthest from its nearest chosen center (exact quantized L2,
    deterministic tiebreaks), five rounds; report the chosen ids and
    the final coverage radius (the farthest any point sits from its
    center). Each round is one Arrow-batch kernel pass over the scan
    against <= k centers closed over from the driver (operators/
    similarity.py::kcenter_greedy) — the same per-round shape as
    Lloyd's, oracle-unrolled round by round."""
    emb = _t(spark, sf_dir, "embeddings")
    qz = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    centers, radius, n = sim_mod.kcenter_greedy(qz, k=5)
    return spark.createDataFrame(
        [(",".join(str(c) for c in sorted(centers)), radius, n)],
        "center_ids string, coverage_radius_sq bigint, n_points bigint",
    )


@register("quantified_subquery_breadth", oracle=_QUANTIFIED_SQL)
def quantified_subquery_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons — ``> ALL`` / ``> ANY`` subqueries. Spark
    has no native quantified-comparison syntax, so the engine SUPPLIES
    the semantics via the standard rewrite (x > ALL S  <=>  x > max(S);
    x > ANY S  <=>  x > min(S), both over non-empty non-null S) — and
    the oracle runs DuckDB's native ALL/ANY form, so the rewrite's
    equivalence is what the gate checks."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH march_avgs AS (
          SELECT AVG(o_totalprice) AS a
          FROM orders WHERE EXTRACT(MONTH FROM o_orderdate) = 3
          GROUP BY EXTRACT(YEAR FROM o_orderdate))
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN o_totalprice >
                                  (SELECT MAX(a) FROM march_avgs)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above_all,
               CAST(SUM(CASE WHEN o_totalprice >
                                  (SELECT MIN(a) FROM march_avgs)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above_any
        FROM orders
        """
    )


@register(
    "filter_agreement_kappa",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(string_split_regex(regexp_replace(lower(trim(text)),
                                                   '\\s+', ' ', 'g'), ' '))
               AS wc,
             len(text) AS nc
      FROM documents),
    rated AS (
      SELECT doc_id,
             CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r1,
             CASE WHEN nc >= 200 AND wc >= 30 THEN 1 ELSE 0 END AS r2
      FROM feats),
    cells AS (
      SELECT CAST(SUM(r1 * r2) AS BIGINT) AS a,
             CAST(SUM(r1 * (1 - r2)) AS BIGINT) AS b,
             CAST(SUM((1 - r1) * r2) AS BIGINT) AS c,
             CAST(SUM((1 - r1) * (1 - r2)) AS BIGINT) AS d,
             COUNT(*) AS n
      FROM rated)
    SELECT a AS both_keep, b AS only_len_keep, c AS only_char_keep,
           d AS both_drop,
           ROUND(CAST(a + d AS DOUBLE) / n, 6) AS raw_agreement,
           -- kappa = (po - pe) / (1 - pe) with exact integer po*n², pe*n²
           ROUND(CAST((a + d) * n - ((a + b) * (a + c) + (c + d) * (b + d))
                      AS DOUBLE) /
                 (n * n - ((a + b) * (a + c) + (c + d) * (b + d))), 6)
             AS cohens_kappa
    FROM cells
    """,
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two quality filters (a word-count rule and
    a char/word hybrid rule) treated as raters — chance-corrected
    agreement, the right way to compare filter variants (raw agreement
    is inflated when both keep almost everything). Numerator and
    denominator assemble from exact integer contingency cells scaled by
    n², one double division at the end."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("wc"),
        F.length("text").alias("nc"),
    )
    rated = feats.select(
        F.when(F.col("wc").between(50, 100000), 1).otherwise(0).alias("r1"),
        F.when((F.col("nc") >= 200) & (F.col("wc") >= 30), 1)
        .otherwise(0)
        .alias("r2"),
    )
    cells = rated.agg(
        F.sum(F.col("r1") * F.col("r2")).cast("bigint").alias("a"),
        F.sum(F.col("r1") * (1 - F.col("r2"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("r1")) * F.col("r2")).cast("bigint").alias("c"),
        F.sum((1 - F.col("r1")) * (1 - F.col("r2")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    pe_n2 = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    return cells.select(
        F.col("a").alias("both_keep"),
        F.col("b").alias("only_len_keep"),
        F.col("c").alias("only_char_keep"),
        F.col("d").alias("both_drop"),
        F.round(
            (F.col("a") + F.col("d")).cast("double") / F.col("n"), 6
        ).alias("raw_agreement"),
        F.round(
            ((F.col("a") + F.col("d")) * F.col("n") - pe_n2).cast("double")
            / (F.col("n") * F.col("n") - pe_n2),
            6,
        ).alias("cohens_kappa"),
    )


@register(
    "simpsons_paradox_audit",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS g,
             CAST(l_quantity AS DECIMAL(38,0)) AS x,
             CAST(FLOOR(l_extendedprice) AS DECIMAL(38,0)) AS y
      FROM lineitem),
    per_g AS (
      SELECT g, COUNT(*) AS n,
             SUM(x * y) AS sxy, SUM(x) AS sx, SUM(y) AS sy
      FROM base GROUP BY g),
    signs AS (
      SELECT g, n,
             CASE WHEN n * sxy - sx * sy > 0 THEN 1
                  WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS s
      FROM per_g),
    pooled AS (
      SELECT CASE WHEN SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy) > 0 THEN 1
                  WHEN SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy) < 0 THEN -1
                  ELSE 0 END AS ps
      FROM per_g)
    SELECT (SELECT ps FROM pooled) AS pooled_corr_sign,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN s = (SELECT ps FROM pooled)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_agree,
           CAST(SUM(CASE WHEN s <> (SELECT ps FROM pooled) AND s <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_flipped
    FROM signs
    """,
)
def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screening: the SIGN of the quantity-price
    association pooled vs within each return-flag stratum — a stratum
    whose sign flips against the pooled one is the aggregation trap
    every observational analysis must check for. Signs come from the
    exact integer covariance numerator n·Σxy − Σx·Σy in DECIMAL(38,0)
    (no correlation floats at all), so the audit is bit-exact and
    overflow-safe at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x"),
        F.floor("l_extendedprice").cast("decimal(38,0)").alias("y"),
    )
    per_g = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    per_g = op_cache.reuse(per_g)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    signs = per_g.select(
        "g",
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0).alias("s"),
    )
    pooled_num = (
        F.sum("n") * F.sum("sxy") - F.sum("sx") * F.sum("sy")
    )
    pooled = per_g.agg(
        F.when(pooled_num > 0, 1)
        .when(pooled_num < 0, -1)
        .otherwise(0)
        .alias("ps")
    )
    return (
        signs.crossJoin(F.broadcast(pooled))
        .agg(
            F.max("ps").alias("pooled_corr_sign"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("s") == F.col("ps"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_groups_agree"),
            F.sum(
                F.when(
                    (F.col("s") != F.col("ps")) & (F.col("s") != 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_groups_flipped"),
        )
    )


@register(
    "littles_law_identity",
    oracle="""
    WITH iv AS (
      SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events),
    pts AS (
      SELECT s AS t, 1 AS delta, event_id FROM iv
      UNION ALL SELECT e, -1, event_id FROM iv),
    swept AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta DESC, event_id) AS load,
             LEAD(t) OVER (ORDER BY t, delta DESC, event_id) AS nxt
      FROM pts),
    integral AS (
      SELECT CAST(SUM(load * (epoch_ms(nxt) - epoch_ms(t))) AS BIGINT)
               AS area_ms
      FROM swept WHERE nxt IS NOT NULL),
    direct AS (
      SELECT CAST(SUM(epoch_ms(e) - epoch_ms(s)) AS BIGINT) AS dur_ms,
             COUNT(*) AS n,
             CAST(epoch_ms(MAX(e)) - epoch_ms(MIN(s)) AS BIGINT)
               AS horizon_ms
      FROM iv)
    SELECT d.n AS n_intervals,
           i.area_ms AS concurrency_time_integral_ms,
           d.dur_ms AS total_duration_ms,
           CAST(i.area_ms - d.dur_ms AS BIGINT) AS identity_gap,
           ROUND(CAST(i.area_ms AS DOUBLE) / d.horizon_ms, 6)
             AS avg_concurrency
    FROM integral i, direct d
    """,
)
def littles_law_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law as an exact computational identity: the time
    integral of live concurrency (sweep line: each segment's load times
    its millisecond length) must equal the plain sum of interval
    durations — two very different computations of L·T = λT·W whose
    integer equality (identity_gap = 0) verifies the sweep-line
    integral end-to-end, plus the average concurrency it implies. Pure
    integer milliseconds until the final ratio."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    iv = op_cache.reuse(iv)
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    worder = Window.orderBy("t", F.desc("delta"), "event_id")
    swept = pts.select(
        "t",
        F.sum("delta")
        .over(worder.rowsBetween(Window.unboundedPreceding, 0))
        .alias("load"),
        F.lead("t").over(worder).alias("nxt"),
    )
    integral = swept.filter(F.col("nxt").isNotNull()).agg(
        F.sum(
            F.col("load")
            * (F.unix_millis("nxt") - F.unix_millis("t"))
        )
        .cast("bigint")
        .alias("area_ms")
    )
    direct = iv.agg(
        F.sum(F.unix_millis("e") - F.unix_millis("s"))
        .cast("bigint")
        .alias("dur_ms"),
        F.count(F.lit(1)).alias("n"),
        (F.unix_millis(F.max("e")) - F.unix_millis(F.min("s")))
        .cast("bigint")
        .alias("horizon_ms"),
    )
    return integral.crossJoin(F.broadcast(direct)).select(
        F.col("n").alias("n_intervals"),
        F.col("area_ms").alias("concurrency_time_integral_ms"),
        F.col("dur_ms").alias("total_duration_ms"),
        (F.col("area_ms") - F.col("dur_ms")).cast("bigint").alias(
            "identity_gap"
        ),
        F.round(
            F.col("area_ms").cast("double") / F.col("horizon_ms"), 6
        ).alias("avg_concurrency"),
    )


@register(
    "char_entropy_compression_bound",
    oracle="""
    WITH ch AS (
      SELECT source, unnest(string_split(text, '')) AS c
      FROM documents WHERE len(text) > 0),
    freq AS (SELECT source, c, COUNT(*) AS n FROM ch GROUP BY source, c),
    tot AS (SELECT source, SUM(n) AS t FROM freq GROUP BY source),
    terms AS (
      SELECT f.source, f.c,
             -(CAST(f.n AS DOUBLE) / t.t) *
              ln(CAST(f.n AS DOUBLE) / t.t) AS h_term,
             t.t
      FROM freq f JOIN tot t ON t.source = f.source)
    SELECT source,
           CAST(MAX(t) AS BIGINT) AS n_chars,
           COUNT(*) AS alphabet_size,
           ROUND(list_reduce(list(h_term ORDER BY c), (a, b) -> a + b)
                 / ln(CAST(2 AS DOUBLE)), 6) AS entropy_bits_per_char,
           CAST(CEIL(MAX(t) *
                     list_reduce(list(h_term ORDER BY c), (a, b) -> a + b)
                     / ln(CAST(2 AS DOUBLE)) / 8) AS BIGINT)
             AS min_bytes_order0
    FROM terms GROUP BY source ORDER BY source
    """,
)
def char_entropy_compression_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 compression bound per source: Shannon entropy of the
    character distribution (entropy terms folded in character order so
    the float sum is order-identical across engines) gives the
    theoretical minimum bytes any memoryless coder can reach — the
    storage-planning number to compare against actual codec ratios.
    Alphabet counts and totals stay integer; the fold and two divisions
    are the only floats."""
    docs = _t(spark, sf_dir, "documents")
    ch = docs.filter(F.length("text") > 0).select(
        "source", F.explode(F.split("text", "")).alias("c")
    )
    freq = ch.groupBy("source", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("source").agg(F.sum("n").alias("t"))
    terms = freq.join(tot, "source").select(
        "source",
        "c",
        "t",
        (
            -(F.col("n").cast("double") / F.col("t"))
            * F.log(F.col("n").cast("double") / F.col("t"))
        ).alias("h_term"),
    )
    import math as _math

    ln2 = _math.log(2.0)
    folded = terms.groupBy("source").agg(
        F.max("t").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).alias("alphabet_size"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(c, h_term))), "
            "cast(0 as double), (acc, e) -> acc + e.h_term)"
        ).alias("h_nat"),
    )
    return folded.select(
        "source",
        "n_chars",
        "alphabet_size",
        F.round(F.col("h_nat") / F.lit(ln2), 6).alias(
            "entropy_bits_per_char"
        ),
        F.ceil(F.col("n_chars") * F.col("h_nat") / F.lit(ln2) / 8)
        .cast("bigint")
        .alias("min_bytes_order0"),
    ).orderBy("source")


@register(
    "mutual_information_feature_label",
    oracle="""
    WITH f AS (
      SELECT label,
             CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END AS fbin
      FROM embeddings),
    cells AS (SELECT label, fbin, COUNT(*) AS n FROM f GROUP BY label, fbin),
    tot AS (SELECT SUM(n) AS t FROM cells),
    margins AS (
      SELECT c.label, c.fbin, c.n,
             SUM(c.n) OVER (PARTITION BY c.label) AS nl,
             SUM(c.n) OVER (PARTITION BY c.fbin) AS nf,
             (SELECT t FROM tot) AS t
      FROM cells c),
    terms AS (
      SELECT label, fbin,
             (CAST(n AS DOUBLE) / t) *
             ln((CAST(n AS DOUBLE) * t) / (CAST(nl AS DOUBLE) * nf))
               AS mi_term
      FROM margins)
    SELECT (SELECT CAST(t AS BIGINT) FROM tot) AS n_points,
           COUNT(*) AS n_cells,
           ROUND(list_reduce(list(mi_term ORDER BY label, fbin),
                             (a, b) -> a + b) /
                 ln(CAST(2 AS DOUBLE)), 6) AS mi_bits
    FROM terms
    """,
)
def mutual_information_feature_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a binarized embedding feature (sign of
    dimension 0) and the class label — the feature-selection screen run
    before training anything: integer contingency cells and margins
    feed per-cell MI terms folded in fixed (label, bin) order, one
    ln(2) division at the end. Zero bits means the feature is useless
    for this label; the exact arithmetic makes the threshold decision
    reproducible."""
    emb = _t(spark, sf_dir, "embeddings")
    f = emb.select(
        "label",
        F.when(F.expr("embedding[0]") >= 0, 1).otherwise(0).alias("fbin"),
    )
    cells = f.groupBy("label", "fbin").agg(F.count(F.lit(1)).alias("n"))
    wl = Window.partitionBy("label")
    wf = Window.partitionBy("fbin")
    wg = Window.partitionBy()
    margins = cells.select(
        "label",
        "fbin",
        "n",
        F.sum("n").over(wl).alias("nl"),
        F.sum("n").over(wf).alias("nf"),
        F.sum("n").over(wg).alias("t"),
    )
    terms = margins.select(
        "label",
        "fbin",
        "t",
        (
            (F.col("n").cast("double") / F.col("t"))
            * F.log(
                (F.col("n").cast("double") * F.col("t"))
                / (F.col("nl").cast("double") * F.col("nf"))
            )
        ).alias("mi_term"),
    )
    import math as _math

    return terms.agg(
        F.max("t").cast("bigint").alias("n_points"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(label, fbin, mi_term))), "
                "cast(0 as double), (acc, e) -> acc + e.mi_term)"
            )
            / F.lit(_math.log(2.0)),
            6,
        ).alias("mi_bits"),
    )


@register(
    "target_encoding_smoothed",
    oracle="""
    WITH g AS (
      SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s, COUNT(*) AS n
      FROM orders),
    cat AS (
      SELECT n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s, COUNT(*) AS n
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name)
    SELECT cat.nation, CAST(cat.n AS BIGINT) AS n_orders,
           ROUND(CAST(cat.s AS DOUBLE) / cat.n, 4) AS raw_mean,
           -- m-estimate with m=100 pseudo-observations at the global mean
           ROUND((CAST(cat.s AS DOUBLE) +
                  100 * (CAST(g.s AS DOUBLE) / g.n)) /
                 (cat.n + 100), 4) AS smoothed_mean
    FROM cat, g ORDER BY nation
    """,
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (the m-estimate) — the categorical
    feature-engineering staple: each nation's mean order value shrunk
    toward the global mean by 100 pseudo-observations, so rare
    categories don't memorize noise. DECIMAL-exact sums feed
    single-expression double ratios; the raw-vs-smoothed gap per
    category is the shrinkage audit."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    g = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("gs"),
        F.count(F.lit(1)).alias("gn"),
    )
    cat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        cat.crossJoin(F.broadcast(g))
        .select(
            "nation",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("s").cast("double") / F.col("n"), 4).alias(
                "raw_mean"
            ),
            F.round(
                (
                    F.col("s").cast("double")
                    + 100 * (F.col("gs").cast("double") / F.col("gn"))
                )
                / (F.col("n") + 100),
                4,
            ).alias("smoothed_mean"),
        )
        .orderBy("nation")
    )


@register(
    "term_burstiness_top20",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''),
    stats AS (
      SELECT t, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY t HAVING COUNT(DISTINCT doc_id) >= 5)
    SELECT t AS term, CAST(cf AS BIGINT) AS collection_freq,
           CAST(df AS BIGINT) AS doc_freq,
           ROUND(CAST(cf AS DOUBLE) / df, 6) AS burstiness
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY CAST(cf AS DOUBLE) / df DESC, t) AS rn
          FROM stats)
    WHERE rn <= 20 ORDER BY burstiness DESC, term
    """,
)
def term_burstiness_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency — terms that repeat heavily WITHIN the documents that
    contain them (topical words) vs terms spread thinly everywhere
    (function words). The adaptation signal behind better-than-Poisson
    term weighting; one token aggregate, integer counts, ranked by a
    single-expression ratio with deterministic tiebreak."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.filter(F.trim("text") != "").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    stats = (
        tok.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("df") >= 5)
    )
    w = Window.orderBy(
        F.desc(F.col("cf").cast("double") / F.col("df")), "t"
    )
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            F.col("t").alias("term"),
            F.col("cf").cast("bigint").alias("collection_freq"),
            F.col("df").cast("bigint").alias("doc_freq"),
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
        )
        .orderBy(F.desc("burstiness"), "term")
    )


@register(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    trans AS (
      SELECT event_type AS prev, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY prev, nxt),
    ptot AS (SELECT prev, SUM(n) AS np FROM trans GROUP BY prev),
    tot AS (SELECT SUM(n) AS t FROM trans),
    cond_terms AS (
      SELECT t.prev, t.nxt,
             -(CAST(t.n AS DOUBLE) / (SELECT t FROM tot)) *
              ln(CAST(t.n AS DOUBLE) / p.np) AS h_term
      FROM trans t JOIN ptot p ON p.prev = t.prev),
    uni AS (
      SELECT event_type AS s, COUNT(*) AS n FROM events GROUP BY event_type),
    utot AS (SELECT SUM(n) AS t FROM uni),
    uni_terms AS (
      SELECT s, -(CAST(n AS DOUBLE) / (SELECT t FROM utot)) *
                ln(CAST(n AS DOUBLE) / (SELECT t FROM utot)) AS h_term
      FROM uni)
    SELECT ROUND((SELECT list_reduce(list(h_term ORDER BY s), (a, b) -> a + b)
                  FROM uni_terms) / ln(CAST(2 AS DOUBLE)), 6)
             AS unigram_entropy_bits,
           ROUND((SELECT list_reduce(list(h_term ORDER BY prev, nxt),
                                     (a, b) -> a + b)
                  FROM cond_terms) / ln(CAST(2 AS DOUBLE)), 6)
             AS entropy_rate_bits,
           (SELECT CAST(t AS BIGINT) FROM tot) AS n_transitions
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of user behavior: H(next | prev) over
    the transition matrix vs the order-0 unigram entropy — the gap is
    exactly how much knowing the previous action predicts the next one
    (the information-theoretic ceiling for any next-event model, which
    markov_next_event_accuracy should approach). All counts integer,
    entropy terms folded in fixed key order."""
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(wseq).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trans = op_cache.reuse(trans)
    ptot = trans.groupBy("prev").agg(F.sum("n").alias("np"))
    tot = int(trans.agg(F.sum("n")).collect()[0][0])
    cond = trans.join(F.broadcast(ptot), "prev").select(
        "prev",
        "nxt",
        (
            -(F.col("n").cast("double") / F.lit(float(tot)))
            * F.log(F.col("n").cast("double") / F.col("np"))
        ).alias("h_term"),
    )
    import math as _math

    ln2 = _math.log(2.0)
    h_cond = cond.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(prev, nxt, h_term))), "
            "cast(0 as double), (acc, e) -> acc + e.h_term)"
        ).alias("h")
    )
    uni = ev.groupBy(F.col("event_type").alias("s")).agg(
        F.count(F.lit(1)).alias("n")
    )
    utot = int(uni.agg(F.sum("n")).collect()[0][0])
    h_uni = uni.select(
        "s",
        (
            -(F.col("n").cast("double") / F.lit(float(utot)))
            * F.log(F.col("n").cast("double") / F.lit(float(utot)))
        ).alias("h_term"),
    ).agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(s, h_term))), "
            "cast(0 as double), (acc, e) -> acc + e.h_term)"
        ).alias("h")
    )
    return (
        h_uni.crossJoin(F.broadcast(h_cond.withColumnRenamed("h", "hc")))
        .select(
            F.round(F.col("h") / ln2, 6).alias("unigram_entropy_bits"),
            F.round(F.col("hc") / ln2, 6).alias("entropy_rate_bits"),
            F.lit(tot).cast("bigint").alias("n_transitions"),
        )
    )


@register(
    "timestamp_delta_encoding_stats",
    oracle="""
    WITH d AS (
      SELECT user_id,
             epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events),
    sized AS (
      SELECT user_id, delta,
             CASE WHEN delta IS NULL THEN 8
                  WHEN delta < 128 THEN 1
                  WHEN delta < 16384 THEN 2
                  WHEN delta < 2097152 THEN 3
                  WHEN delta < 268435456 THEN 4
                  ELSE 5 END AS varint_bytes
      FROM d)
    SELECT COUNT(*) AS n_timestamps,
           CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
           CAST(SUM(varint_bytes) AS BIGINT) AS delta_varint_bytes,
           ROUND(1 - CAST(SUM(varint_bytes) AS DOUBLE) / (COUNT(*) * 8), 6)
             AS compression_ratio
    FROM sized
    """,
)
def timestamp_delta_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-of-delta storage planning: per-user timestamp deltas sized
    as varints (7 bits per byte, full 8 bytes for each stream head)
    against raw 8-byte encoding — the arithmetic every time-series
    storage engine (Gorilla, Parquet DELTA_BINARY_PACKED) banks on,
    computed exactly so the compression-ratio estimate is a number, not
    a hope. One lag window, integer byte counts."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias(
            "delta"
        )
    )
    sized = d.select(
        F.when(F.col("delta").isNull(), 8)
        .when(F.col("delta") < 128, 1)
        .when(F.col("delta") < 16384, 2)
        .when(F.col("delta") < 2097152, 3)
        .when(F.col("delta") < 268435456, 4)
        .otherwise(5)
        .alias("varint_bytes")
    )
    return sized.agg(
        F.count(F.lit(1)).alias("n_timestamps"),
        (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
        F.sum("varint_bytes").cast("bigint").alias("delta_varint_bytes"),
        F.round(
            1
            - F.sum("varint_bytes").cast("double")
            / (F.count(F.lit(1)) * 8),
            6,
        ).alias("compression_ratio"),
    )


@register(
    "blocking_recall_eval",
    oracle="""
    WITH sub AS (
      SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey % 10 = 0),
    truth AS (
      SELECT a.p_partkey AS ia, b.p_partkey AS ib,
             CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS same_block
      FROM sub a JOIN sub b ON a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2)
    SELECT COUNT(*) AS n_true_pairs,
           CAST(SUM(same_block) AS BIGINT) AS n_found_in_block,
           ROUND(CAST(SUM(same_block) AS DOUBLE) /
                 GREATEST(COUNT(*), 1), 6) AS blocking_recall
    FROM truth
    """,
)
def blocking_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-recall evaluation — the number every entity-resolution
    pipeline must publish: of all TRUE fuzzy matches (Levenshtein <= 2,
    computed exhaustively on a 10% key-sampled evaluation subset, the
    standard way to afford ground truth), what fraction would the
    brand-blocking strategy have even compared? Recall below target
    means the block key is wrong, no matter how good the matcher is."""
    part = _t(spark, sf_dir, "part")
    sub = part.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey", "p_name", "p_brand"
    )
    a = sub.select(
        F.col("p_partkey").alias("ia"),
        F.col("p_name").alias("na"),
        F.col("p_brand").alias("ba"),
    )
    b = sub.select(
        F.col("p_partkey").alias("ib"),
        F.col("p_name").alias("nb"),
        F.col("p_brand").alias("bb"),
    )
    truth = (
        a.join(b, F.col("ia") < F.col("ib"))
        .filter(F.levenshtein("na", "nb") <= 2)
        .select(
            F.when(F.col("ba") == F.col("bb"), 1).otherwise(0).alias(
                "same_block"
            )
        )
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("same_block").cast("bigint").alias("n_found_in_block"),
        F.round(
            F.sum("same_block").cast("double")
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("blocking_recall"),
    )


@register(
    "quantile_treatment_effect",
    oracle="""
    WITH pool AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    ranked AS (
      SELECT g, v,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM pool),
    qs AS (
      SELECT q.lvl, r.g,
             MAX(CASE WHEN 100 * r.rk <= q.lvl * r.n + 100 THEN r.v END)
               AS qv
      FROM ranked r, (SELECT unnest([25, 50, 75]) AS lvl) q
      GROUP BY q.lvl, r.g)
    SELECT CAST(a.lvl AS INT) AS quantile_pct,
           ROUND(a.qv, 2) AS q_urgent,
           ROUND(b.qv, 2) AS q_low,
           ROUND(a.qv - b.qv, 2) AS qte
    FROM qs a JOIN qs b ON b.lvl = a.lvl AND a.g = 'a' AND b.g = 'b'
    ORDER BY quantile_pct
    """,
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the distributional comparison a mean
    difference hides: the P25/P50/P75 order-total gap between urgent
    and low-priority groups, each quantile an exact nearest-rank
    SELECTION (integer comparisons, no interpolation), so effects at
    the tails and the middle are separately attributable. One rank
    window per group; the 3-level grid is a broadcast."""
    o = _t(spark, sf_dir, "orders")
    pool = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "a")
        .otherwise("b")
        .alias("g"),
    )
    wr = Window.partitionBy("g").orderBy("v")
    wn = Window.partitionBy("g")
    ranked = pool.select(
        "g",
        "v",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lvls = spark.createDataFrame([(25,), (50,), (75,)], "lvl int")
    qs = (
        ranked.crossJoin(F.broadcast(lvls))
        .groupBy("lvl", "g")
        .agg(
            F.max(
                F.when(
                    100 * F.col("rk") <= F.col("lvl") * F.col("n") + 100,
                    F.col("v"),
                )
            ).alias("qv")
        )
    )
    a = qs.filter(F.col("g") == "a").select(
        "lvl", F.col("qv").alias("qa")
    )
    b = qs.filter(F.col("g") == "b").select(
        F.col("lvl").alias("lb"), F.col("qv").alias("qb")
    )
    return (
        a.join(b, a.lvl == b.lb)
        .select(
            F.col("lvl").cast("int").alias("quantile_pct"),
            F.round("qa", 2).alias("q_urgent"),
            F.round("qb", 2).alias("q_low"),
            F.round(F.col("qa") - F.col("qb"), 2).alias("qte"),
        )
        .orderBy("quantile_pct")
    )


@register(
    "ab_srm_check",
    oracle="""
    WITH assign AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                               || ':ab'), 1, 15) AS BIGINT)
                       % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)),
    counts AS (
      SELECT CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt
      FROM assign)
    SELECT nc AS n_control, nt AS n_treatment,
           -- chi-square GOF vs 50/50: (nc - nt)^2 / (nc + nt), exact ints
           ROUND(CAST((nc - nt) * (nc - nt) AS DOUBLE) / (nc + nt), 6)
             AS chi_square,
           CASE WHEN CAST((nc - nt) * (nc - nt) AS DOUBLE) / (nc + nt)
                     > CAST(3.841 AS DOUBLE)
                THEN 1 ELSE 0 END AS srm_flag
    FROM counts
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the first check every A/B
    readout must pass: users hash-split 50/50, the chi-square
    goodness-of-fit statistic (algebraically (nc-nt)²/(nc+nt) for two
    equal-probability cells, exact integers until one division) flagged
    at the 0.05 critical value. An SRM flag means the assignment or
    logging is broken and every downstream metric is invalid."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    counts = users.select(arm.alias("a")).agg(
        F.sum(F.when(F.col("a") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("a") != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nt"),
    )
    chi = (
        (F.col("nc") - F.col("nt")) * (F.col("nc") - F.col("nt"))
    ).cast("double") / (F.col("nc") + F.col("nt"))
    return counts.select(
        F.col("nc").alias("n_control"),
        F.col("nt").alias("n_treatment"),
        F.round(chi, 6).alias("chi_square"),
        F.when(chi > F.lit(3.841), 1).otherwise(0).alias("srm_flag"),
    )


@register(
    "did_estimator",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                               || ':did'), 1, 15) AS BIGINT)
                       % 2 = 0 THEN 0 ELSE 1 END AS treated,
             CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                  THEN 1 ELSE 0 END AS post,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders),
    sums AS (
      SELECT treated, post, SUM(y) AS s, COUNT(*) AS n
      FROM cells GROUP BY treated, post),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t1,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c0,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM sums)
    SELECT n_total,
           ROUND(t1 - t0, 4) AS treated_delta,
           ROUND(c1 - c0, 4) AS control_delta,
           ROUND((t1 - t0) - (c1 - c0), 4) AS did_estimate
    FROM wide
    """,
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimator: the
    treated group's pre/post change minus the control group's, from a
    2x2 of DECIMAL-exact cell sums (hash-assigned arms and a date cut
    define the design; on hash-random arms the estimate should hover
    near zero, which is itself the placebo check). Four exact ratios
    and three subtractions — single-expression doubles both engines."""
    o = _t(spark, sf_dir, "orders")
    treated = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_custkey").cast("string"), F.lit(":did"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    cells = o.select(
        F.when(treated == 0, 0).otherwise(1).alias("treated"),
        F.when(
            F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    sums = cells.groupBy("treated", "post").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mean = F.col("s").cast("double") / F.col("n")
    wide = sums.agg(
        F.max(
            F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)
        ).alias("t1"),
        F.max(
            F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)
        ).alias("t0"),
        F.max(
            F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)
        ).alias("c1"),
        F.max(
            F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)
        ).alias("c0"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        F.round(F.col("t1") - F.col("t0"), 4).alias("treated_delta"),
        F.round(F.col("c1") - F.col("c0"), 4).alias("control_delta"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 4
        ).alias("did_estimate"),
    )


@register(
    "anomaly_ensemble_vote",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS cnt, SUM(n) AS sn, SUM(n * n) AS snn FROM daily),
    mr AS (
      SELECT d, n, ABS(n - LAG(n) OVER (ORDER BY d)) AS rng FROM daily),
    mrbar AS (SELECT SUM(rng) AS sr, COUNT(rng) AS cr FROM mr),
    dow AS (
      SELECT isodow(d) - 1 AS wd, SUM(n) AS swn, COUNT(*) AS nwd
      FROM daily GROUP BY 1),
    flags AS (
      SELECT daily.d, daily.n,
             CASE WHEN ABS(daily.n - CAST(sn AS DOUBLE) / cnt) >
                       2 * SQRT(CAST(snn AS DOUBLE) / cnt -
                                (CAST(sn AS DOUBLE) / cnt) *
                                (CAST(sn AS DOUBLE) / cnt))
                  THEN 1 ELSE 0 END AS f_zscore,
             CASE WHEN ABS(daily.n - CAST(sn AS DOUBLE) / cnt) >
                       3 * (CAST((SELECT sr FROM mrbar) AS DOUBLE) /
                            (SELECT cr FROM mrbar)) / CAST(1.128 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f_shewhart,
             CASE WHEN ABS(CAST(daily.n AS DOUBLE) * dow.nwd / dow.swn - 1) >
                       CAST(0.35 AS DOUBLE)
                  THEN 1 ELSE 0 END AS f_seasonal
      FROM daily, stats
      JOIN dow ON dow.wd = isodow(daily.d) - 1)
    SELECT CAST(d AS TIMESTAMP) AS day, CAST(n AS BIGINT) AS n_events,
           CAST(f_zscore + f_shewhart + f_seasonal AS INT) AS votes,
           f_zscore, f_shewhart, f_seasonal
    FROM flags
    WHERE f_zscore + f_shewhart + f_seasonal >= 2
    ORDER BY day
    """,
)
def anomaly_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble anomaly alerting — the production pattern that cuts
    single-detector false positives: a day pages only when at least two
    of three independent detectors agree (global 2-sigma z-score,
    Shewhart 3-sigma moving-range limits, and a day-of-week
    seasonal-ratio deviation). Each flag derives from exact integer
    sums via single-expression doubles; the vote is integer."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily = op_cache.reuse(daily)
    stats = daily.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    wd_win = Window.orderBy("d")
    mrbar = daily.select(
        F.abs(F.col("n") - F.lag("n").over(wd_win)).alias("rng")
    ).agg(F.sum("rng").alias("sr"), F.count("rng").alias("cr"))
    dow = daily.groupBy(F.weekday("d").alias("wd")).agg(
        F.sum("n").alias("swn"), F.count(F.lit(1)).alias("nwd")
    )
    j = (
        daily.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(mrbar))
        .join(F.broadcast(dow), F.weekday(F.col("d")) == F.col("wd"))
    )
    mean = F.col("sn").cast("double") / F.col("cnt")
    sd = F.sqrt(
        F.col("snn").cast("double") / F.col("cnt") - mean * mean
    )
    f_z = F.when(F.abs(F.col("n") - mean) > 2 * sd, 1).otherwise(0)
    f_sh = F.when(
        F.abs(F.col("n") - mean)
        > 3 * (F.col("sr").cast("double") / F.col("cr")) / F.lit(1.128),
        1,
    ).otherwise(0)
    f_se = F.when(
        F.abs(
            F.col("n").cast("double") * F.col("nwd") / F.col("swn") - 1
        )
        > F.lit(0.35),
        1,
    ).otherwise(0)
    flagged = j.select(
        F.col("d").cast("timestamp").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        f_z.alias("f_zscore"),
        f_sh.alias("f_shewhart"),
        f_se.alias("f_seasonal"),
    )
    return (
        flagged.withColumn(
            "votes",
            (
                F.col("f_zscore") + F.col("f_shewhart") + F.col("f_seasonal")
            ).cast("int"),
        )
        .filter(F.col("votes") >= 2)
        .select(
            "day", "n_events", "votes", "f_zscore", "f_shewhart", "f_seasonal"
        )
        .orderBy("day")
    )


@register("rbo_ranking_similarity", oracle=_rbo_oracle())
def rbo_ranking_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between the lexical and
    semantic top-15 rankings — the top-weighted ranking-similarity
    metric that, unlike Kendall's tau, handles non-conjoint lists: per
    depth d the overlap of the two prefixes weighs in as p^(d-1)·o/d,
    folded depth-ascending, plus the standard extrapolation term. The
    only floats are powers of the fixed p=0.9 and the fold — both
    order-pinned."""
    bm_raw = bm25_search_topk(spark, sf_dir)
    wb = Window.orderBy(F.desc("bm25"), "doc_id")
    bm = bm_raw.withColumn("rnk", F.row_number().over(wb)).select(
        F.col("doc_id").alias("bd"), F.col("rnk").alias("br")
    )
    emb = _t(spark, sf_dir, "embeddings")
    cs = sim_mod.cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=15
    ).select(F.col("neighbor_id").alias("cd"), F.col("rank").alias("cr"))
    k, p = 15, 0.9
    depths = spark.range(1, k + 1).select(F.col("id").alias("d"))
    matched = bm.join(cs, F.col("cd") == F.col("bd")).select(
        F.greatest("br", "cr").alias("depth_in")
    )
    ov = depths.join(
        matched, F.col("depth_in") <= F.col("d"), "left"
    ).groupBy("d").agg(F.count("depth_in").alias("o"))
    terms = ov.select(
        "d",
        "o",
        (
            F.lit(1 - p)
            * F.pow(F.lit(p), F.col("d") - 1)
            * F.col("o")
            / F.col("d")
        ).alias("term"),
    )
    folded = terms.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(d, term))), "
            "cast(0 as double), (acc, e) -> acc + e.term)"
        ).alias("s"),
        F.max(F.when(F.col("d") == k, F.col("o"))).alias("ok"),
    )
    return folded.select(
        F.lit(k).cast("int").alias("k"),
        F.col("ok").cast("bigint").alias("overlap_at_k"),
        F.round(
            F.col("s")
            + F.pow(F.lit(p), F.lit(k)) * F.col("ok") / F.lit(float(k)),
            6,
        ).alias("rbo_ext"),
    )


@register(
    "ips_offpolicy_value",
    oracle="""
    WITH logged AS (
      SELECT event_id, event_type, value,
             CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                                || ':pol'), 1, 15) AS BIGINT)
                       % 2 = 0
                  THEN 'click' ELSE 'view' END AS logged_action
      FROM events WHERE event_type IN ('click', 'view')),
    scored AS (
      -- behavior policy chooses uniformly between the two actions
      -- (propensity exactly 1/2); target policy always plays 'click'
      SELECT value, event_type,
             CASE WHEN event_type = logged_action THEN 1 ELSE 0 END
               AS on_policy,
             CASE WHEN event_type = 'click' AND event_type = logged_action
                  THEN 2 ELSE 0 END AS ips_w
      FROM logged)
    SELECT COUNT(*) AS n_logged,
           CAST(SUM(on_policy) AS BIGINT) AS n_matched,
           ROUND(CAST(SUM(CAST(value * ips_w AS DECIMAL(18,6))) AS DOUBLE) /
                 COUNT(*), 6) AS ips_value_estimate,
           ROUND(CAST(SUM(CASE WHEN event_type = 'click'
                               THEN CAST(value AS DECIMAL(18,6))
                               ELSE CAST(0 AS DECIMAL(18,6)) END)
                      AS DOUBLE) /
                 GREATEST(SUM(CASE WHEN event_type = 'click'
                              THEN 1 ELSE 0 END), 1), 6)
             AS on_policy_mean_reward
    FROM scored
    """,
)
def ips_offpolicy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring — the
    counterfactual estimate every recommendation/ranking team needs
    before an online test: rewards of logged actions that match the
    TARGET policy are reweighted by 1/propensity (the hash-random
    behavior policy gives exact propensity 1/2, so the weight is the
    integer 2) and averaged over all logged traffic. The unweighted
    mean reward of matching actions sits alongside as the biased
    baseline IPS corrects. DECIMAL sums, integer weights, one final
    division."""
    ev = _t(spark, sf_dir, "events")
    logged = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        "event_type",
        "value",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"), F.lit(":pol")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            "click",
        )
        .otherwise("view")
        .alias("logged_action"),
    )
    scored = logged.select(
        "value",
        "event_type",
        F.when(F.col("event_type") == F.col("logged_action"), 1)
        .otherwise(0)
        .alias("on_policy"),
        F.when(
            (F.col("event_type") == "click")
            & (F.col("event_type") == F.col("logged_action")),
            2,
        )
        .otherwise(0)
        .alias("ips_w"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_logged"),
        F.sum("on_policy").cast("bigint").alias("n_matched"),
        F.round(
            F.sum(
                (F.col("value") * F.col("ips_w")).cast("decimal(18,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("ips_value_estimate"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.col("value").cast("decimal(18,6)"),
                ).otherwise(F.lit(0).cast("decimal(18,6)"))
            ).cast("double")
            / F.greatest(
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                ),
                F.lit(1),
            ),
            6,
        ).alias("on_policy_mean_reward"),
    )


@register(
    "ab_mde_calculator",
    oracle="""
    WITH base AS (
      SELECT COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) /
             COUNT(*) AS p
      FROM events)
    SELECT n_users,
           ROUND(p, 6) AS baseline_rate,
           -- MDE for a two-sided 0.05 / power 0.8 two-proportion test:
           -- (z_{0.975} + z_{0.8}) * sqrt(2 p (1-p) / (n/2 per arm))
           ROUND((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
                 SQRT(2 * p * (1 - p) / (CAST(n_users AS DOUBLE) / 2)), 6)
             AS mde_absolute,
           ROUND(((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
                  SQRT(2 * p * (1 - p) / (CAST(n_users AS DOUBLE) / 2))) / p,
                 6) AS mde_relative
    FROM base
    """,
)
def ab_mde_calculator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect — the experiment-design number computed
    BEFORE launching: with the observed baseline purchase rate and the
    available user count split 50/50, the smallest absolute and
    relative lift a two-proportion test (alpha 0.05 two-sided, power
    0.8; z constants fixed to 6 dp so both engines share them exactly)
    can reliably detect. Completes the experimentation suite next to
    the SRM, z-test, SPRT, DiD, QTE, and IPS queries."""
    ev = _t(spark, sf_dir, "events")
    base = ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("p"),
    )
    z = F.lit(1.959964) + F.lit(0.841621)
    mde = z * F.sqrt(
        2 * F.col("p") * (1 - F.col("p"))
        / (F.col("n_users").cast("double") / 2)
    )
    return base.select(
        "n_users",
        F.round("p", 6).alias("baseline_rate"),
        F.round(mde, 6).alias("mde_absolute"),
        F.round(mde / F.col("p"), 6).alias("mde_relative"),
    )


@register(
    "partial_correlation_audit",
    oracle="""
    WITH v AS (
      SELECT CAST(l_quantity AS DECIMAL(38,0)) AS x,
             CAST(FLOOR(l_extendedprice) AS DECIMAL(38,0)) AS y,
             CAST(ROUND(l_discount * 100, 0) AS DECIMAL(38,0)) AS z
      FROM lineitem),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
             SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
      FROM v),
    r AS (
      SELECT
        CAST(n * sxy - sx * sy AS DOUBLE) /
        SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
             CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
        CAST(n * sxz - sx * sz AS DOUBLE) /
        SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
             CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
        CAST(n * syz - sy * sz AS DOUBLE) /
        SQRT(CAST(n * syy - sy * sy AS DOUBLE) *
             CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      FROM s)
    SELECT ROUND(rxy, 6) AS r_qty_price,
           ROUND(rxz, 6) AS r_qty_discount,
           ROUND(ryz, 6) AS r_price_discount,
           ROUND((rxy - rxz * ryz) /
                 SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_r_given_discount
    FROM r
    """,
)
def partial_correlation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation — the quantity-price association with the
    discount CONTROLLED away, the confounder check a raw correlation
    matrix can't answer: r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)
    (1−r_yz²)). All second moments accumulate as DECIMAL(38,0) integer
    sums (quantity, floored price, per-cent discount), so the three
    pairwise r's and the partial r are single-expression doubles from
    exact numerators — no float accumulation anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("decimal(38,0)").alias("x"),
        F.floor("l_extendedprice").cast("decimal(38,0)").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)").alias("z"),
    )
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        return (
            (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
            / F.sqrt(
                (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast(
                    "double"
                )
                * (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast(
                    "double"
                )
            )
        )

    r = s.select(
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        F.round("rxy", 6).alias("r_qty_price"),
        F.round("rxz", 6).alias("r_qty_discount"),
        F.round("ryz", 6).alias("r_price_discount"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_r_given_discount"),
    )


@register(
    "slope_heterogeneity_by_priority",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority AS pr,
             CAST(l.l_quantity AS DECIMAL(38,0)) AS x,
             CAST(FLOOR(l.l_extendedprice) AS DECIMAL(38,0)) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    s AS (
      SELECT pr, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM j GROUP BY pr),
    slopes AS (
      SELECT pr, CAST(n AS BIGINT) AS n,
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                   CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
      FROM s)
    SELECT pr AS priority, n, slope,
           ROUND(MAX(slope) OVER () - MIN(slope) OVER (), 6)
             AS slope_spread
    FROM slopes ORDER BY priority
    """,
)
def slope_heterogeneity_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope heterogeneity — does the quantity-price relationship differ
    by order priority? Per-group OLS slopes from exact DECIMAL(38,0)
    moment sums (the grouped version of the regression family), with
    the max-min slope spread carried on every row: a spread near zero
    licenses a pooled model, a wide one demands interaction terms. One
    grouped aggregate; the window over five rows is free."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(li, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pr"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x"),
        F.floor("l_extendedprice").cast("decimal(38,0)").alias("y"),
    )
    s = j.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slopes = s.select(
        F.col("pr").alias("priority"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("slope"),
    )
    wg = Window.partitionBy()
    return slopes.select(
        "priority",
        "n",
        "slope",
        F.round(
            F.max("slope").over(wg) - F.min("slope").over(wg), 6
        ).alias("slope_spread"),
    ).orderBy("priority")


@register(
    "lead_lag_correlation_scan",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY 1),
    lags AS (SELECT unnest(range(0, 8)) AS lag),
    aligned AS (
      SELECT l.lag, a.c AS x, b.p AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + CAST(l.lag AS INT)),
    s AS (
      SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM aligned GROUP BY lag),
    r AS (
      SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                   SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
                        CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
      FROM s)
    SELECT lag, n_days, r,
           CASE WHEN ABS(r) = MAX(ABS(r)) OVER () THEN 1 ELSE 0 END
             AS is_best_lag
    FROM r ORDER BY lag
    """,
)
def lead_lag_correlation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation scan: the Pearson correlation between
    daily clicks and purchases LAGGED 0-7 days — which offset best
    predicts conversions, the first screen before any causal story.
    Each lag aligns by a calendar self-join (never a window over
    shifted copies), correlations come from exact integer moment sums,
    and the best-lag flag compares the identical doubles both engines
    computed."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p"),
    )
    daily = op_cache.reuse(daily)
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("p").alias("y"))
    aligned = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .select("lag", "x", "y")
    )
    s = aligned.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("r"),
    )
    wg = Window.partitionBy()
    return r.select(
        "lag",
        "n_days",
        "r",
        F.when(F.abs("r") == F.max(F.abs("r")).over(wg), 1)
        .otherwise(0)
        .alias("is_best_lag"),
    ).orderBy("lag")


@register(
    "misra_gries_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT w FROM toks WHERE w <> ''),
    tot AS (SELECT COUNT(*) AS n FROM t2),
    cnt AS (SELECT w, COUNT(*) AS c FROM t2 GROUP BY w)
    SELECT cnt.w AS token, CAST(cnt.c AS BIGINT) AS freq,
           ROUND(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS share
    FROM cnt, tot
    WHERE cnt.c * 200 > tot.n
    ORDER BY freq DESC, token
    """,
)
def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters over the token stream: each
    partition keeps a k-counter MG summary (mapInPandas, one pass, O(k)
    memory), the union of survivors is the candidate set, and a second
    exact pass counts ONLY the candidates (broadcast semi-join) and keeps
    tokens with freq * k > n. Pigeonhole + the per-partition MG guarantee
    (any item with local count > n_p/k survives) make the candidate set a
    superset of the true heavy hitters on EVERY partitioning, so the
    exact-filtered output is deterministic and the oracle is a plain
    frequency filter. This is the 100 TB shape for "top 0.5% tokens":
    the first pass never shuffles, the second shuffles only candidate
    rows (≤ k·partitions keys)."""
    k = 200
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w")
    ).filter(F.col("w") != "")

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["w"]:
                c = counters.get(w)
                if c is not None:
                    counters[w] = c + 1
                elif len(counters) < k:
                    counters[w] = 1
                else:
                    dead = []
                    for key in counters:
                        nv = counters[key] - 1
                        counters[key] = nv
                        if nv == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"w": list(counters.keys())})

    cands = toks.mapInPandas(mg_partition, "w string").distinct()
    counts = toks.join(F.broadcast(cands), "w").groupBy("w").agg(
        F.count(F.lit(1)).alias("freq")
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * k > F.col("n"))
        .select(
            F.col("w").alias("token"),
            F.col("freq").cast("bigint").alias("freq"),
            F.round(
                F.col("freq").cast("double") / F.col("n").cast("double"), 6
            ).alias("share"),
        )
        .orderBy(F.desc("freq"), "token")
    )


@register(
    "fellegi_sunter_linkage",
    oracle="""
    WITH p AS (SELECT p_partkey AS id, p_brand,
                      p_type AS ft, p_size AS fs,
                      string_split(p_name, ' ')[2] AS fw
               FROM part),
    nn AS (SELECT COUNT(*) AS n FROM p),
    ut AS (SELECT CAST(SUM(c*(c-1)) AS DOUBLE) /
                  CAST((SELECT n*(n-1) FROM nn) AS DOUBLE) AS u
           FROM (SELECT COUNT(*) AS c FROM p GROUP BY ft)),
    us AS (SELECT CAST(SUM(c*(c-1)) AS DOUBLE) /
                  CAST((SELECT n*(n-1) FROM nn) AS DOUBLE) AS u
           FROM (SELECT COUNT(*) AS c FROM p GROUP BY fs)),
    uw AS (SELECT CAST(SUM(c*(c-1)) AS DOUBLE) /
                  CAST((SELECT n*(n-1) FROM nn) AS DOUBLE) AS u
           FROM (SELECT COUNT(*) AS c FROM p GROUP BY fw)),
    wts AS (SELECT
      ROUND(LN(CAST(0.95 AS DOUBLE) / ut.u), 6) AS wt_a,
      ROUND(LN(CAST(0.05 AS DOUBLE) / (1 - ut.u)), 6) AS wt_d,
      ROUND(LN(CAST(0.9 AS DOUBLE) / us.u), 6) AS ws_a,
      ROUND(LN(CAST(0.1 AS DOUBLE) / (1 - us.u)), 6) AS ws_d,
      ROUND(LN(CAST(0.95 AS DOUBLE) / uw.u), 6) AS ww_a,
      ROUND(LN(CAST(0.05 AS DOUBLE) / (1 - uw.u)), 6) AS ww_d
      FROM ut, us, uw),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN a.ft = b.ft THEN 1 ELSE 0 END AS agt,
             CASE WHEN a.fs = b.fs THEN 1 ELSE 0 END AS ags,
             CASE WHEN a.fw = b.fw THEN 1 ELSE 0 END AS agw
      FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.id < b.id),
    scored AS (
      SELECT id_a, id_b, agt + ags + agw AS n_agree,
             ROUND((CASE WHEN agt = 1 THEN wt_a ELSE wt_d END) +
                   (CASE WHEN ags = 1 THEN ws_a ELSE ws_d END) +
                   (CASE WHEN agw = 1 THEN ww_a ELSE ww_d END), 6) AS score
      FROM cand, wts)
    SELECT id_a, id_b, CAST(n_agree AS INT) AS n_agree, score
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY score DESC, id_a, id_b) AS rn
          FROM scored WHERE score > 0)
    WHERE rn <= 100
    ORDER BY score DESC, id_a, id_b
    """,
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: candidate pairs come
    from blocking on p_brand, each comparison field (type, size, the
    product noun from the name) gets a data-derived u-probability (the
    chance two RANDOM records agree: Σ c_v(c_v-1)/(N(N-1)), one tiny
    aggregate per field), fixed m-probabilities, and every pair scores
    the sum of log(m/u) / log((1-m)/(1-u)) agreement weights. Top-100
    by score. The u-stats and weights are one-row broadcasts; the pair
    join never leaves the brand blocks — the classic ER scale shape
    (cost Σ block², not N²)."""
    part = _t(spark, sf_dir, "part")
    p = part.select(
        F.col("p_partkey").alias("id"),
        "p_brand",
        F.col("p_type").alias("ft"),
        F.col("p_size").alias("fs"),
        F.split("p_name", " ").getItem(1).alias("fw"),
    )
    p = op_cache.reuse(p)
    nn = p.agg(F.count(F.lit(1)).alias("n"))

    def u_of(field: str) -> DataFrame:
        c = p.groupBy(field).agg(F.count(F.lit(1)).alias("c"))
        return (
            c.agg(F.sum(F.col("c") * (F.col("c") - 1)).alias("agree"))
            .crossJoin(F.broadcast(nn))
            .select(
                (
                    F.col("agree").cast("double")
                    / (F.col("n") * (F.col("n") - 1)).cast("double")
                ).alias(f"u_{field}")
            )
        )

    wts = (
        u_of("ft")
        .crossJoin(u_of("fs"))
        .crossJoin(u_of("fw"))
        .select(
            F.round(F.log(F.lit(0.95).cast("double") / F.col("u_ft")), 6).alias("wt_a"),
            F.round(
                F.log(F.lit(0.05).cast("double") / (F.lit(1) - F.col("u_ft"))), 6
            ).alias("wt_d"),
            F.round(F.log(F.lit(0.9).cast("double") / F.col("u_fs")), 6).alias("ws_a"),
            F.round(
                F.log(F.lit(0.1).cast("double") / (F.lit(1) - F.col("u_fs"))), 6
            ).alias("ws_d"),
            F.round(F.log(F.lit(0.95).cast("double") / F.col("u_fw")), 6).alias("ww_a"),
            F.round(
                F.log(F.lit(0.05).cast("double") / (F.lit(1) - F.col("u_fw"))), 6
            ).alias("ww_d"),
        )
    )
    a = p.select(
        F.col("p_brand").alias("ba"),
        F.col("id").alias("id_a"),
        F.col("ft").alias("fta"),
        F.col("fs").alias("fsa"),
        F.col("fw").alias("fwa"),
    )
    b = p.select(
        F.col("p_brand").alias("bb"),
        F.col("id").alias("id_b"),
        F.col("ft").alias("ftb"),
        F.col("fs").alias("fsb"),
        F.col("fw").alias("fwb"),
    )
    cand = a.join(
        b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a",
        "id_b",
        F.when(F.col("fta") == F.col("ftb"), 1).otherwise(0).alias("agt"),
        F.when(F.col("fsa") == F.col("fsb"), 1).otherwise(0).alias("ags"),
        F.when(F.col("fwa") == F.col("fwb"), 1).otherwise(0).alias("agw"),
    )
    scored = cand.crossJoin(F.broadcast(wts)).select(
        "id_a",
        "id_b",
        (F.col("agt") + F.col("ags") + F.col("agw")).cast("int").alias("n_agree"),
        F.round(
            F.when(F.col("agt") == 1, F.col("wt_a")).otherwise(F.col("wt_d"))
            + F.when(F.col("ags") == 1, F.col("ws_a")).otherwise(F.col("ws_d"))
            + F.when(F.col("agw") == 1, F.col("ww_a")).otherwise(F.col("ww_d")),
            6,
        ).alias("score"),
    )
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "id_a", "id_b")
        .limit(100)
        .orderBy(F.desc("score"), "id_a", "id_b")
    )


@register(
    "hill_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS x,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders),
    top AS (SELECT * FROM ranked WHERE rn <= 101),
    xm AS (SELECT x AS xmin FROM top WHERE rn = 101),
    terms AS (
      SELECT t.rn, LN(t.x / xm.xmin) AS term
      FROM top t, xm WHERE t.rn <= 100),
    s AS (SELECT list_reduce(list(term ORDER BY rn), (a, b) -> a + b)
            AS hsum FROM terms)
    SELECT CAST(100 AS INT) AS k,
           ROUND(xm.xmin, 2) AS xmin_threshold,
           ROUND(s.hsum / CAST(100 AS DOUBLE), 6) AS hill_mean_log,
           ROUND(CAST(100 AS DOUBLE) / s.hsum, 6) AS alpha
    FROM s, xm
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of order totals:
    alpha^-1 = mean of ln(x_(i)/x_(k+1)) over the top-k order statistics
    (k=100). The top-(k+1) rows come from orderBy().limit() — Spark plans
    TakeOrderedAndProject, a per-partition heap + driver merge, NOT a
    global sort, so this is the 100 TB-safe way to reach the tail. The
    log-sum folds rank-ascending (array_sort + aggregate) to stay
    bit-identical with DuckDB's list_reduce."""
    k = 100
    orders = _t(spark, sf_dir, "orders")
    top = (
        orders.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.desc("x"), "o_orderkey")
        .limit(k + 1)
    )
    w = Window.orderBy(F.desc("x"), "o_orderkey")
    ranked = top.select("x", F.row_number().over(w).alias("rn"))
    xm = ranked.filter(F.col("rn") == k + 1).select(F.col("x").alias("xmin"))
    terms = (
        ranked.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(xm))
        .select("rn", F.log(F.col("x") / F.col("xmin")).alias("term"))
    )
    s = terms.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(rn, term))), "
            "cast(0 as double), (acc, e) -> acc + e.term)"
        ).alias("hsum")
    )
    return s.crossJoin(F.broadcast(xm)).select(
        F.lit(k).cast("int").alias("k"),
        F.round("xmin", 2).alias("xmin_threshold"),
        F.round(F.col("hsum") / F.lit(k).cast("double"), 6).alias("hill_mean_log"),
        F.round(F.lit(k).cast("double") / F.col("hsum"), 6).alias("alpha"),
    )


@register(
    "calibration_reliability_bins",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, y,
             CAST(c AS DOUBLE) / CAST(c + 3 AS DOUBLE) AS score,
             CAST((10 * c) // (c + 3) AS INT) AS bin
      FROM per_user),
    binned AS (
      SELECT bin, COUNT(*) AS n_users, SUM(y) AS n_pos,
             list_reduce(list(score ORDER BY user_id),
                         (a, b) -> a + b) AS score_sum,
             list_reduce(list((score - y) * (score - y) ORDER BY user_id),
                         (a, b) -> a + b) AS brier_sum
      FROM scored GROUP BY bin)
    SELECT bin, CAST(n_users AS BIGINT) AS n_users,
           ROUND(score_sum / CAST(n_users AS DOUBLE), 6) AS avg_pred,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
             AS frac_pos,
           ROUND(brier_sum / CAST(n_users AS DOUBLE), 6) AS brier
    FROM binned ORDER BY bin
    """,
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of a deterministic conversion scorer: per user
    the rational score c/(c+3) (c = click count — exact, no exp) predicts
    whether the user ever purchased; users bucket into 10 reliability
    bins by integer arithmetic (10c div (c+3)), and each bin reports
    mean predicted probability vs empirical positive rate plus the Brier
    score. Per-bin double sums fold user-ascending so both engines add
    in the same order. One groupBy(user) + one groupBy(bin) — two
    narrow-key shuffles, scale-safe."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    scored = per_user.select(
        "user_id",
        "y",
        (F.col("c").cast("double") / (F.col("c") + 3).cast("double")).alias(
            "score"
        ),
        F.expr("CAST((10 * c) DIV (c + 3) AS INT)").alias("bin"),
    )
    binned = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("y").alias("n_pos"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(user_id, score))), "
            "cast(0 as double), (acc, e) -> acc + e.score)"
        ).alias("score_sum"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(user_id, "
            "(score - y) * (score - y) AS sq))), "
            "cast(0 as double), (acc, e) -> acc + e.sq)"
        ).alias("brier_sum"),
    )
    return binned.select(
        "bin",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("score_sum") / F.col("n_users").cast("double"), 6).alias(
            "avg_pred"
        ),
        F.round(
            F.col("n_pos").cast("double") / F.col("n_users").cast("double"), 6
        ).alias("frac_pos"),
        F.round(F.col("brier_sum") / F.col("n_users").cast("double"), 6).alias(
            "brier"
        ),
    ).orderBy("bin")


@register(
    "shapley_attribution_channels",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           + 8 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    mask_conv AS (
      SELECT mask, COUNT(*) AS n_conv FROM per_user
      WHERE conv = 1 GROUP BY mask),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s.s, COALESCE(SUM(m.n_conv), 0) AS v
      FROM subsets s LEFT JOIN mask_conv m ON (m.mask & (15 - s.s)) = 0
      GROUP BY s.s),
    channels AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2),
                            ('signup', 4), ('error', 8)) AS t(channel, bit)),
    contrib AS (
      SELECT c.channel,
             CASE bit_count(CAST(sv.s AS BIGINT))
               WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
             * (vi.v - sv.v) AS term
      FROM channels c
      JOIN v sv ON (sv.s & c.bit) = 0
      JOIN v vi ON vi.s = sv.s + c.bit),
    phi AS (
      SELECT channel, SUM(term) AS phi24 FROM contrib GROUP BY channel),
    tot AS (SELECT COALESCE(SUM(n_conv), 0) AS t FROM mask_conv)
    SELECT channel, CAST(phi24 AS BIGINT) AS phi24,
           ROUND(CAST(phi24 AS DOUBLE) / CAST(24 AS DOUBLE), 6) AS phi,
           ROUND(CAST(phi24 AS DOUBLE) / CAST(24 * tot.t AS DOUBLE), 6)
             AS share
    FROM phi, tot
    ORDER BY channel
    """,
)
def shapley_attribution_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution: each converting user's
    touched-channel set defines the coalition game v(S) = number of
    converters whose channels ⊆ S, and each channel gets its Shapley
    value φ_i = Σ_S |S|!(3-|S|)!/4! · [v(S∪{i})-v(S)] — the
    order-fair split of total conversions (Σφ = v(full)). The 100 TB
    shape: ONE user-keyed aggregate compresses the data to ≤16 mask
    counts; the factorial-weighted subset enumeration (16×4 rows) is
    driver-trivial and exact in scaled integers (φ·24), no floats until
    the final report."""
    ev = _t(spark, sf_dir, "events")
    has = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per_user = ev.groupBy("user_id").agg(
        (
            has("view")
            + 2 * has("click")
            + 4 * has("signup")
            + 8 * has("error")
        ).alias("mask"),
        has("purchase").alias("conv"),
    )
    mask_conv = (
        per_user.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n_conv"))
    )
    mask_conv = op_cache.reuse(mask_conv)
    subsets = spark.range(0, 16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mask_conv),
            F.expr("(mask & (15 - s)) = 0"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    )
    v = op_cache.reuse(v)
    channels = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4), ("error", 8)],
        "channel string, bit int",
    )
    sv = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    contrib = (
        channels.join(F.broadcast(sv), F.expr("(s0 & bit) = 0"))
        .join(F.broadcast(vi), F.expr("s1 = s0 + bit"))
        .select(
            "channel",
            (
                F.when(F.bit_count(F.col("s0").cast("bigint")) == 0, 6)
                .when(F.bit_count(F.col("s0").cast("bigint")) == 1, 2)
                .when(F.bit_count(F.col("s0").cast("bigint")) == 2, 2)
                .otherwise(6)
                * (F.col("v1") - F.col("v0"))
            ).alias("term"),
        )
    )
    phi = contrib.groupBy("channel").agg(F.sum("term").alias("phi24"))
    tot = mask_conv.agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("t"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.col("phi24").cast("bigint").alias("phi24"),
            F.round(
                F.col("phi24").cast("double") / F.lit(24).cast("double"), 6
            ).alias("phi"),
            F.round(
                F.col("phi24").cast("double")
                / (F.lit(24) * F.col("t")).cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("channel")
    )


@register(
    "benjamini_hochberg_fdr",
    oracle=f"""
    WITH li AS (
      SELECT s.s_nationkey, l.l_returnflag
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    per_nation AS (
      SELECT n.n_name AS nation, COUNT(*) AS n,
             SUM(CASE WHEN li.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
      FROM li JOIN nation n ON li.s_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    gl AS (
      SELECT CAST(SUM(x) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p0
      FROM per_nation),
    z AS (
      SELECT nation, n, x,
             (CAST(x AS DOUBLE) - CAST(n AS DOUBLE) * gl.p0)
               / SQRT(CAST(n AS DOUBLE) * gl.p0 * (1 - gl.p0)) AS z
      FROM per_nation, gl),
    ranked AS (
      SELECT nation, n, x, z,
             ROW_NUMBER() OVER (ORDER BY z DESC, nation) AS rank
      FROM z),
    flagged AS (
      SELECT r.nation, r.n, r.x, r.z, r.rank, crit.c,
             CASE WHEN r.z >= crit.c THEN r.rank ELSE 0 END AS pass_rank
      FROM ranked r JOIN {_bh_crit_sql()} ON crit.rank = r.rank),
    k AS (SELECT MAX(pass_rank) AS k FROM flagged)
    SELECT nation, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
           ROUND(z, 6) AS z, CAST(rank AS INT) AS rank,
           c AS crit_z,
           CASE WHEN rank <= k.k THEN 1 ELSE 0 END AS rejected
    FROM flagged, k
    ORDER BY rank
    """,
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over 25 simultaneous one-sided
    tests: per supplier nation, is the return rate elevated vs the
    global rate? z-scores come from exact integer counts; the BH step-up
    compares the i-th largest z against pinned critical values
    Φ^{-1}(1-αi/m) (α=.05) and rejects every rank ≤ the largest passing
    rank — the multiple-testing guard any per-segment anomaly scan
    needs before alerting. One fact-side shuffle (nation agg after a
    broadcast supplier join); the 25-row BH machinery is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    per_nation = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
    )
    per_nation = op_cache.reuse(per_nation)
    glob = per_nation.agg(
        (
            F.sum("x").cast("double") / F.sum("n").cast("double")
        ).alias("p0")
    )
    z = per_nation.crossJoin(F.broadcast(glob)).select(
        "nation",
        "n",
        "x",
        (
            (F.col("x").cast("double") - F.col("n").cast("double") * F.col("p0"))
            / F.sqrt(
                F.col("n").cast("double") * F.col("p0") * (F.lit(1) - F.col("p0"))
            )
        ).alias("z"),
    )
    wr = Window.orderBy(F.desc("z"), "nation")
    ranked = z.select("nation", "n", "x", "z", F.row_number().over(wr).alias("rank"))
    crit = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(_BH_CRIT)], "rank int, c double"
    )
    flagged = ranked.join(F.broadcast(crit), "rank").select(
        "nation",
        "n",
        "x",
        "z",
        "rank",
        "c",
        F.when(F.col("z") >= F.col("c"), F.col("rank")).otherwise(0).alias(
            "pass_rank"
        ),
    )
    k = flagged.agg(F.max("pass_rank").alias("k"))
    return (
        flagged.crossJoin(F.broadcast(k))
        .select(
            "nation",
            F.col("n").cast("bigint").alias("n"),
            F.col("x").cast("bigint").alias("x"),
            F.round("z", 6).alias("z"),
            F.col("rank").cast("int").alias("rank"),
            F.round("c", 6).alias("crit_z"),
            F.when(F.col("rank") <= F.col("k"), 1).otherwise(0).alias("rejected"),
        )
        .orderBy("rank")
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH pre AS (
      SELECT user_id, COUNT(*) AS x
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id),
    post AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id),
    per_user AS (
      SELECT COALESCE(pre.user_id, post.user_id) AS user_id,
             COALESCE(pre.x, 0) AS x,
             COALESCE(post.y, CAST(0 AS DECIMAL(18,2))) AS y,
             COALESCE(pre.user_id, post.user_id) % 2 AS arm
      FROM pre FULL OUTER JOIN post ON pre.user_id = post.user_id),
    mom AS (
      SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
             SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM per_user GROUP BY arm),
    pooled AS (
      SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx,
             SUM(sy) AS sy, SUM(syy) AS syy, SUM(sxy) AS sxy
      FROM mom),
    theta AS (
      SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th
      FROM pooled),
    arm_stats AS (
      SELECT m.arm, m.n,
             CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE) AS ybar,
             CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS xbar,
             (CAST(m.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
              - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE))
             / (CAST(m.n AS DOUBLE) * CAST(m.n - 1 AS DOUBLE)) AS var_y,
             (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
             / (CAST(m.n AS DOUBLE) * CAST(m.n - 1 AS DOUBLE)) AS var_x,
             (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
             / (CAST(m.n AS DOUBLE) * CAST(m.n - 1 AS DOUBLE)) AS cov_xy
      FROM mom m)
    SELECT a.arm AS arm, CAST(a.n AS BIGINT) AS n_users,
           ROUND(a.ybar, 6) AS mean_metric,
           ROUND(a.ybar - t.th * a.xbar, 6) AS mean_adjusted,
           ROUND(a.var_y, 6) AS var_metric,
           ROUND(a.var_y - 2 * t.th * a.cov_xy + t.th * t.th * a.var_x, 6)
             AS var_adjusted,
           ROUND(1 - (a.var_y - 2 * t.th * a.cov_xy + t.th * t.th * a.var_x)
                     / a.var_y, 6) AS var_reduction,
           ROUND(t.th, 6) AS theta
    FROM arm_stats a, theta t
    ORDER BY arm
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiments: the post-period revenue
    metric is adjusted by the pre-period activity covariate with the
    pooled θ = cov(x,y)/var(x), and each arm (user_id % 2 — the
    deterministic hash split) reports mean/variance before and after
    adjustment plus the variance-reduction fraction. Everything reduces
    to per-arm integer/decimal moment sums (one user-keyed aggregate,
    one 2-row fold) — the adjusted variance is computed FROM the moment
    identities, never from per-user floats, so it is bit-deterministic
    and needs no second pass over the data."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    pre = (
        ev.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    post = (
        ev.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("y")
        )
    )
    per_user = (
        pre.join(post, "user_id", "full_outer")
        .select(
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0).cast("decimal(18,2)")).alias("y"),
            (F.col("user_id") % 2).alias("arm"),
        )
    )
    mom = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    mom = op_cache.reuse(mom)
    pooled = mom.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("psx"),
        F.sum("sxx").alias("psxx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = pooled.select(
        (
            (d("n") * d("psxy") - d("psx") * d("psy"))
            / (d("n") * d("psxx") - d("psx") * d("psx"))
        ).alias("th")
    )
    nm1 = (d("n") * (F.col("n") - 1).cast("double"))
    arm_stats = mom.select(
        "arm",
        "n",
        (d("sy") / d("n")).alias("ybar"),
        (d("sx") / d("n")).alias("xbar"),
        ((d("n") * d("syy") - d("sy") * d("sy")) / nm1).alias("var_y"),
        ((d("n") * d("sxx") - d("sx") * d("sx")) / nm1).alias("var_x"),
        ((d("n") * d("sxy") - d("sx") * d("sy")) / nm1).alias("cov_xy"),
    )
    adj_var = (
        F.col("var_y")
        - 2 * F.col("th") * F.col("cov_xy")
        + F.col("th") * F.col("th") * F.col("var_x")
    )
    return (
        arm_stats.crossJoin(F.broadcast(theta))
        .select(
            F.col("arm").alias("arm"),
            F.col("n").cast("bigint").alias("n_users"),
            F.round("ybar", 6).alias("mean_metric"),
            F.round(F.col("ybar") - F.col("th") * F.col("xbar"), 6).alias(
                "mean_adjusted"
            ),
            F.round("var_y", 6).alias("var_metric"),
            F.round(adj_var, 6).alias("var_adjusted"),
            F.round(F.lit(1) - adj_var / F.col("var_y"), 6).alias(
                "var_reduction"
            ),
            F.round("th", 6).alias("theta"),
        )
        .orderBy("arm")
    )


@register(
    "empirical_bayes_shrunk_rates",
    oracle="""
    WITH per_brand AS (
      SELECT p.p_brand AS brand, COUNT(*) AS n,
             SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand),
    rates AS (
      SELECT brand, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS r
      FROM per_brand),
    mom AS (
      SELECT COUNT(*) AS k,
             list_reduce(list(r ORDER BY brand), (a, b) -> a + b) AS sr,
             list_reduce(list(r * r ORDER BY brand), (a, b) -> a + b) AS srr
      FROM rates),
    prior AS (
      SELECT (sr / CAST(k AS DOUBLE)) AS mu,
             (srr - sr * sr / CAST(k AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
               AS v,
             k
      FROM mom),
    ab AS (
      SELECT mu, v,
             (mu * (1 - mu) / v - 1) * mu AS alpha,
             (mu * (1 - mu) / v - 1) * (1 - mu) AS beta
      FROM prior)
    SELECT r.brand AS brand, CAST(r.n AS BIGINT) AS n,
           CAST(r.x AS BIGINT) AS x,
           ROUND(r.r, 6) AS raw_rate,
           ROUND((CAST(r.x AS DOUBLE) + ab.alpha)
                 / (CAST(r.n AS DOUBLE) + ab.alpha + ab.beta), 6)
             AS shrunk_rate,
           ROUND(ab.alpha, 6) AS prior_alpha,
           ROUND(ab.beta, 6) AS prior_beta
    FROM rates r, ab
    ORDER BY shrunk_rate DESC, brand
    """,
)
def empirical_bayes_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage: per-brand return rates shrink
    toward a Beta prior fit by method of moments on the observed
    brand-level rates (α+β = μ(1-μ)/v − 1) — small brands pull hard
    toward the prior, big brands barely move, which is how you rank
    segments without rewarding tiny-sample noise. The prior fit folds
    the ~25 brand rates in brand order (bit-stable); the fact scan
    aggregates once with a broadcast part join."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    per_brand = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
    )
    rates = per_brand.select(
        "brand",
        "n",
        "x",
        (F.col("x").cast("double") / F.col("n").cast("double")).alias("r"),
    )
    rates = op_cache.reuse(rates)
    mom = rates.agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(brand, r))), "
            "cast(0 as double), (acc, e) -> acc + e.r)"
        ).alias("sr"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(brand, r * r AS rr))), "
            "cast(0 as double), (acc, e) -> acc + e.rr)"
        ).alias("srr"),
    )
    prior = mom.select(
        (F.col("sr") / F.col("k").cast("double")).alias("mu"),
        (
            (F.col("srr") - F.col("sr") * F.col("sr") / F.col("k").cast("double"))
            / (F.col("k") - 1).cast("double")
        ).alias("v"),
    )
    ab = prior.select(
        "mu",
        "v",
        ((F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1) * F.col("mu")).alias(
            "alpha"
        ),
        (
            (F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1)
            * (1 - F.col("mu"))
        ).alias("beta"),
    )
    return (
        rates.crossJoin(F.broadcast(ab))
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n"),
            F.col("x").cast("bigint").alias("x"),
            F.round("r", 6).alias("raw_rate"),
            F.round(
                (F.col("x").cast("double") + F.col("alpha"))
                / (F.col("n").cast("double") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
            F.round("alpha", 6).alias("prior_alpha"),
            F.round("beta", 6).alias("prior_beta"),
        )
        .orderBy(F.desc("shrunk_rate"), "brand")
    )


@register(
    "delta_method_ratio_metric",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm, COUNT(*) AS s,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events GROUP BY user_id),
    mom AS (
      SELECT arm, COUNT(*) AS n, SUM(s) AS ss, SUM(s*s) AS sss,
             SUM(y) AS sy, SUM(y*y) AS syy, SUM(s*y) AS ssy
      FROM per_user GROUP BY arm),
    st AS (
      SELECT arm, n,
             CAST(sy AS DOUBLE) / CAST(ss AS DOUBLE) AS ratio,
             CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS sbar,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_y,
             (CAST(n AS DOUBLE) * CAST(sss AS DOUBLE)
              - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_s,
             (CAST(n AS DOUBLE) * CAST(ssy AS DOUBLE)
              - CAST(ss AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS cov_sy
      FROM mom)
    SELECT arm, CAST(n AS BIGINT) AS n_users, ROUND(ratio, 6) AS ratio,
           ROUND((var_y - 2 * ratio * cov_sy + ratio * ratio * var_s)
                 / (CAST(n AS DOUBLE) * sbar * sbar), 6) AS var_ratio
    FROM st
    ORDER BY arm
    """,
)
def delta_method_ratio_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method variance for a ratio metric (revenue per session,
    the metric whose naive per-user variance is WRONG because both
    numerator and denominator are random): per arm, var(ŷ/ŝ) ≈
    (var_y − 2r·cov + r²·var_s)/(n·s̄²) from exact per-arm moment sums.
    The experimentation-platform primitive for any per-user-ratio
    metric. Single user-keyed aggregate, then a 2-row fold — the same
    bit-deterministic moment pattern as CUPED."""
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
    per_user = per_user.select(
        (F.col("user_id") % 2).alias("arm"), "s", "y"
    )
    mom = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s")).alias("sss"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("s") * F.col("y")).alias("ssy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nm1 = d("n") * (F.col("n") - 1).cast("double")
    st = mom.select(
        "arm",
        "n",
        (d("sy") / d("ss")).alias("ratio"),
        (d("ss") / d("n")).alias("sbar"),
        ((d("n") * d("syy") - d("sy") * d("sy")) / nm1).alias("var_y"),
        ((d("n") * d("sss") - d("ss") * d("ss")) / nm1).alias("var_s"),
        ((d("n") * d("ssy") - d("ss") * d("sy")) / nm1).alias("cov_sy"),
    )
    return st.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.round("ratio", 6).alias("ratio"),
        F.round(
            (
                F.col("var_y")
                - 2 * F.col("ratio") * F.col("cov_sy")
                + F.col("ratio") * F.col("ratio") * F.col("var_s")
            )
            / (d("n") * F.col("sbar") * F.col("sbar")),
            6,
        ).alias("var_ratio"),
    ).orderBy("arm")


@register(
    "regression_discontinuity",
    oracle="""
    WITH base AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2))
               - CAST(250000 AS DECIMAL(18,2)) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice >= 150000 AND o_totalprice < 350000),
    sides AS (
      SELECT CASE WHEN x >= 0 THEN 'right' ELSE 'left' END AS side,
             COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
             SUM(y) AS sy, SUM(x*y) AS sxy
      FROM base GROUP BY 1),
    fit AS (
      SELECT side, n,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
      FROM sides),
    wide AS (
      SELECT
        MAX(CASE WHEN side = 'left' THEN n END) AS n_left,
        MAX(CASE WHEN side = 'right' THEN n END) AS n_right,
        MAX(CASE WHEN side = 'left' THEN ybar END) AS ybar_l,
        MAX(CASE WHEN side = 'right' THEN ybar END) AS ybar_r,
        MAX(CASE WHEN side = 'left' THEN xbar END) AS xbar_l,
        MAX(CASE WHEN side = 'right' THEN xbar END) AS xbar_r,
        MAX(CASE WHEN side = 'left' THEN slope END) AS slope_l,
        MAX(CASE WHEN side = 'right' THEN slope END) AS slope_r
      FROM fit)
    SELECT CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           ROUND(slope_l, 6) AS slope_left,
           ROUND(slope_r, 6) AS slope_right,
           ROUND(ybar_l - slope_l * xbar_l, 6) AS intercept_left,
           ROUND(ybar_r - slope_r * xbar_r, 6) AS intercept_right,
           ROUND((ybar_r - slope_r * xbar_r)
                 - (ybar_l - slope_l * xbar_l), 6) AS rd_effect
    FROM wide
    """,
)
def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate at a price cutoff: local
    linear fits on each side of x = totalprice − 250k within a ±100k
    bandwidth, effect = difference of the two intercepts AT the cutoff —
    the standard design for "did crossing the threshold change the
    outcome". The running variable stays DECIMAL through the moment
    sums (exact, associative), so the per-side OLS fits are
    bit-deterministic; one filtered scan, one 2-group aggregate."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(
        (F.col("o_totalprice") >= 150000) & (F.col("o_totalprice") < 350000)
    ).select(
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            - F.lit(250000).cast("decimal(18,2)")
        ).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    sides = base.groupBy(
        F.when(F.col("x") >= 0, "right").otherwise("left").alias("side")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fit = sides.select(
        "side",
        "n",
        (d("sy") / d("n")).alias("ybar"),
        (d("sx") / d("n")).alias("xbar"),
        (
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (d("n") * d("sxx") - d("sx") * d("sx"))
        ).alias("slope"),
    )
    side_max = lambda s, c: F.max(  # noqa: E731
        F.when(F.col("side") == s, F.col(c))
    )
    wide = fit.agg(
        side_max("left", "n").alias("n_l"),
        side_max("right", "n").alias("n_r"),
        side_max("left", "ybar").alias("ybar_l"),
        side_max("right", "ybar").alias("ybar_r"),
        side_max("left", "xbar").alias("xbar_l"),
        side_max("right", "xbar").alias("xbar_r"),
        side_max("left", "slope").alias("slope_l"),
        side_max("right", "slope").alias("slope_r"),
    )
    icept_l = F.col("ybar_l") - F.col("slope_l") * F.col("xbar_l")
    icept_r = F.col("ybar_r") - F.col("slope_r") * F.col("xbar_r")
    return wide.select(
        F.col("n_l").cast("bigint").alias("n_left"),
        F.col("n_r").cast("bigint").alias("n_right"),
        F.round("slope_l", 6).alias("slope_left"),
        F.round("slope_r", 6).alias("slope_right"),
        F.round(icept_l, 6).alias("intercept_left"),
        F.round(icept_r, 6).alias("intercept_right"),
        F.round(icept_r - icept_l, 6).alias("rd_effect"),
    )


@register(
    "uplift_qini_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    dec AS (
      SELECT arm, y,
             NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM per_user),
    agg AS (
      SELECT decile,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS ct,
             SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS cc
      FROM dec GROUP BY decile),
    cum AS (
      SELECT decile, nt, nc, ct, cc,
             SUM(nt) OVER (ORDER BY decile) AS cnt,
             SUM(nc) OVER (ORDER BY decile) AS cnc,
             SUM(ct) OVER (ORDER BY decile) AS cct,
             SUM(cc) OVER (ORDER BY decile) AS ccc
      FROM agg)
    SELECT decile, CAST(nt AS BIGINT) AS n_treat,
           CAST(nc AS BIGINT) AS n_ctrl,
           CAST(ct AS BIGINT) AS conv_treat, CAST(cc AS BIGINT) AS conv_ctrl,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL
                ELSE ROUND(CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
                           - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE), 6)
           END AS uplift,
           CASE WHEN cnc = 0 THEN NULL
                ELSE ROUND(CAST(cct AS DOUBLE)
                           - CAST(ccc AS DOUBLE) * CAST(cnt AS DOUBLE)
                             / CAST(cnc AS DOUBLE), 6)
           END AS qini
    FROM cum ORDER BY decile
    """,
)
def uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift evaluation by score decile + the Qini curve: users rank by
    a targeting score (click count), split into treatment/control by the
    deterministic hash arm, and each decile reports incremental
    conversion rate (uplift) plus the cumulative Qini statistic
    cct − ccc·cnt/cnc — the standard "did targeting the top deciles
    buy more conversions than random" audit. All integer counts until
    the final ratios; NTILE ties break on user_id so both engines cut
    identical deciles."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "score"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    per_user = per_user.select(
        (F.col("user_id") % 2).alias("arm"),
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), "user_id"))
        .alias("decile"),
    )
    agg = per_user.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).alias("cc"),
    )
    wc = Window.orderBy("decile")
    cum = agg.select(
        "decile",
        "nt",
        "nc",
        "ct",
        "cc",
        F.sum("nt").over(wc).alias("cnt"),
        F.sum("nc").over(wc).alias("cnc"),
        F.sum("ct").over(wc).alias("cct"),
        F.sum("cc").over(wc).alias("ccc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return cum.select(
        "decile",
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_ctrl"),
        F.col("ct").cast("bigint").alias("conv_treat"),
        F.col("cc").cast("bigint").alias("conv_ctrl"),
        F.when(
            (F.col("nt") == 0) | (F.col("nc") == 0), F.lit(None)
        )
        .otherwise(F.round(d("ct") / d("nt") - d("cc") / d("nc"), 6))
        .alias("uplift"),
        F.when(F.col("cnc") == 0, F.lit(None))
        .otherwise(F.round(d("cct") - d("ccc") * d("cnt") / d("cnc"), 6))
        .alias("qini"),
    ).orderBy("decile")


@register(
    "model_cascade_frontier",
    oracle="""
    WITH docs_q AS (
      SELECT doc_id,
             len(list_distinct([w FOR w IN
               string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               IF w <> ''])) AS d,
             len([w FOR w IN
               string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               IF w <> '']) AS w
      FROM documents),
    thresholds AS (SELECT unnest(range(0, 10)) AS t10),
    routed AS (
      SELECT t.t10, q.doc_id, q.w,
             CASE WHEN 10 * q.d < t.t10 * q.w THEN 1 ELSE 0 END AS to_large
      FROM thresholds t CROSS JOIN docs_q q)
    SELECT CAST(t10 AS INT) AS t10,
           ROUND(CAST(t10 AS DOUBLE) / CAST(10 AS DOUBLE), 1) AS threshold,
           CAST(SUM(to_large) AS BIGINT) AS n_large,
           CAST(SUM(1 - to_large) AS BIGINT) AS n_small,
           CAST(SUM(CASE WHEN to_large = 1 THEN w ELSE 0 END) AS BIGINT)
             AS tokens_large,
           CAST(SUM(CASE WHEN to_large = 0 THEN w ELSE 0 END) AS BIGINT)
             AS tokens_small,
           CAST(SUM(CASE WHEN to_large = 1 THEN 10 * w ELSE 2 * w END)
                AS BIGINT) AS cost_units
    FROM routed
    GROUP BY t10
    ORDER BY t10
    """,
)
def model_cascade_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-cascade routing frontier: sweep 10 quality thresholds, route
    low-lexical-diversity documents (distinct/total words < t) to the
    expensive model (10 cost units/token) and the rest to the cheap one
    (2 units/token), and report the cost/volume frontier — the standard
    capacity-planning sweep for LLM cascades. The routing predicate is
    pure integer arithmetic (10·distinct < t10·total), so every
    threshold cut is exact; one tokenize pass feeds a 10-way broadcast
    sweep (thresholds are literals, never a data shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            ),
            lambda x: x != "",
        ).alias("ws"),
    )
    docs_q = toks.select(
        "doc_id",
        F.size(F.array_distinct("ws")).alias("d"),
        F.size("ws").alias("w"),
    )
    thresholds = spark.range(0, 10).select(F.col("id").cast("int").alias("t10"))
    routed = thresholds.crossJoin(docs_q).select(
        "t10",
        "w",
        F.when(10 * F.col("d") < F.col("t10") * F.col("w"), 1)
        .otherwise(0)
        .alias("to_large"),
    )
    return (
        routed.groupBy("t10")
        .agg(
            F.sum("to_large").cast("bigint").alias("n_large"),
            F.sum(1 - F.col("to_large")).cast("bigint").alias("n_small"),
            F.sum(F.when(F.col("to_large") == 1, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("tokens_large"),
            F.sum(F.when(F.col("to_large") == 0, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("tokens_small"),
            F.sum(
                F.when(F.col("to_large") == 1, 10 * F.col("w")).otherwise(
                    2 * F.col("w")
                )
            )
            .cast("bigint")
            .alias("cost_units"),
        )
        .select(
            F.col("t10").cast("int").alias("t10"),
            F.round(F.col("t10").cast("double") / F.lit(10).cast("double"), 1).alias(
                "threshold"
            ),
            "n_large",
            "n_small",
            "tokens_large",
            "tokens_small",
            "cost_units",
        )
        .orderBy("t10")
    )


@register("markov_removal_attribution", oracle=_markov_removal_oracle())
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (the fourth classic next
    to linear / time-decay / Shapley): user journeys (truncated at the
    first purchase, non-converters absorbed at 'end') define a first-
    order chain; each channel's value is how much the 50-step conversion
    probability drops when transitions INTO that channel redirect to
    'end'. The heavy work — journey windows and transition counts — is
    distributed and shuffles once on user_id; the chain itself is ≤7
    states, so the five scenario iterations run on the driver over the
    COLLECTED count matrix (the k-means-centroid pattern: collect only
    aggregate-scale state). Fold order (source-state ascending) matches
    the oracle's list_reduce bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).over(w_before),
                F.lit(0),
            ).alias("purchases_before"),
        )
        .filter(F.col("purchases_before") == 0)
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_last = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    seq = kept.select(
        "event_type",
        F.coalesce(F.lag("event_type").over(w_seq), F.lit("start")).alias(
            "prev"
        ),
        F.row_number().over(w_last).alias("rn_last"),
    )
    steps_raw = seq.select(
        F.col("prev").alias("s"), F.col("event_type").alias("s2")
    ).unionAll(
        seq.filter(
            (F.col("rn_last") == 1) & (F.col("event_type") != "purchase")
        ).select(F.col("event_type").alias("s"), F.lit("end").alias("s2"))
    )
    counts = (
        steps_raw.groupBy("s", "s2").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    base: dict[tuple[str, str], int] = {(r["s"], r["s2"]): r["c"] for r in counts}
    states = sorted(
        {s for s, _ in base} | {s2 for _, s2 in base} | {"start", "purchase", "end"}
    )
    rows = []
    p_full = None
    results: dict[str, float] = {}
    for sc in ["full"] + _MARKOV_CHANNELS:
        red: dict[tuple[str, str], int] = {}
        for (s, s2), c in base.items():
            tgt = "end" if s2 == sc else s2
            red[(s, tgt)] = red.get((s, tgt), 0) + c
        tot: dict[str, int] = {}
        for (s, _), c in red.items():
            tot[s] = tot.get(s, 0) + c
        trans = [
            (s, s2, float(c) / float(tot[s])) for (s, s2), c in red.items()
        ]
        trans += [("purchase", "purchase", 1.0), ("end", "end", 1.0)]
        p = {s: (1.0 if s == "start" else 0.0) for s in states}
        for _ in range(_MARKOV_STEPS):
            acc = {s: 0.0 for s in states}
            for s, s2, pr in sorted(trans, key=lambda t: (t[1], t[0])):
                acc[s2] += p[s] * pr
            p = acc
        results[sc] = p.get("purchase", 0.0)
    p_full = results["full"]
    effects = {
        c: 1.0 - results[c] / p_full for c in _MARKOV_CHANNELS
    }
    te = 0.0
    for c in sorted(effects):
        te += effects[c]
    for c in _MARKOV_CHANNELS:
        rows.append(
            (
                c,
                round(p_full, 6),
                round(results[c], 6),
                round(effects[c], 6),
                round(effects[c] / te, 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "channel string, p_conversion_full double, "
        "p_conversion_removed double, removal_effect double, "
        "attribution_share double",
    ).orderBy("channel")


@register(
    "ndcg_retrieval_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS ql
      FROM embeddings WHERE vec_id < 5),
    c AS (
      SELECT vec_id AS cid, embedding AS cv, label AS cl
      FROM embeddings WHERE vec_id >= 5),
    scored AS (
      SELECT q.qid, c.cid,
             list_reduce([CAST(q.qv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)
                          FOR i IN range(1, len(q.qv)+1)],
                         (a, b) -> a + b)
             / (SQRT(list_reduce([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                                  FOR i IN range(1, len(q.qv)+1)],
                                 (a, b) -> a + b))
                * SQRT(list_reduce([CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)
                                    FOR i IN range(1, len(c.cv)+1)],
                                   (a, b) -> a + b))) AS cos,
             CASE WHEN c.cl = q.ql THEN 1 ELSE 0 END AS rel
      FROM q CROSS JOIN c),
    ranked AS (
      SELECT qid, cid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rk
      FROM scored),
    dcg AS (
      SELECT qid,
             list_reduce(list(CAST(rel AS DOUBLE) / LOG2(CAST(rk + 1 AS DOUBLE))
                              ORDER BY rk),
                         (a, b) -> a + b) AS dcg,
             SUM(rel) AS n_rel
      FROM ranked WHERE rk <= 10 GROUP BY qid),
    ideal AS (
      SELECT qid,
             CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE) ELSE
               list_reduce([CAST(1 AS DOUBLE) / LOG2(CAST(i + 1 AS DOUBLE))
                            FOR i IN range(1, LEAST(CAST(n_rel AS INT), 10) + 1)],
                           (a, b) -> a + b) END AS idcg
      FROM (SELECT qid, SUM(rel) AS n_rel FROM ranked GROUP BY qid))
    SELECT d.qid AS query_id, CAST(d.n_rel AS BIGINT) AS rel_in_top10,
           ROUND(d.dcg, 6) AS dcg_at_10,
           ROUND(i.idcg, 6) AS idcg,
           CASE WHEN i.idcg IS NULL OR i.idcg = 0 THEN NULL
                ELSE ROUND(d.dcg / i.idcg, 6) END AS ndcg_at_10
    FROM dcg d JOIN ideal i USING (qid)
    ORDER BY query_id
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 retrieval evaluation: five probe vectors retrieve from the
    corpus by exact cosine, binary relevance = same label, and each query
    reports DCG@10 against the ideal DCG given its TOTAL relevant count
    in the candidate pool (capped at 10) — the standard graded-ranking
    metric missing from MRR-only evals. Discount terms 1/log2(rank+1)
    fold rank-ascending in both engines. Probes broadcast; one window
    per query partition — at corpus scale swap the exact scorer for
    lsh/ivf candidates, the metric math is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    c = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("cl"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        sim_mod.cosine(F.col("qv"), F.col("cv")).alias("cos"),
        F.when(F.col("cl") == F.col("ql"), 1).otherwise(0).alias("rel"),
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    ranked = scored.select(
        "qid", "cid", "rel", F.row_number().over(wr).alias("rk")
    )
    ranked = op_cache.reuse(ranked)
    dcg = (
        ranked.filter(F.col("rk") <= 10)
        .groupBy("qid")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(rk, "
                "CAST(rel AS DOUBLE) / LOG2(CAST(rk + 1 AS DOUBLE)) AS t))), "
                "cast(0 as double), (acc, e) -> acc + e.t)"
            ).alias("dcg"),
            F.sum("rel").alias("n_rel10"),
        )
    )
    ideal = (
        ranked.groupBy("qid")
        .agg(F.sum("rel").alias("n_rel"))
        .select(
            "qid",
            F.expr(
                "CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE) ELSE "
                "aggregate(transform(sequence(1, "
                "LEAST(CAST(n_rel AS INT), 10)), "
                "i -> CAST(1 AS DOUBLE) / LOG2(CAST(i + 1 AS DOUBLE))), "
                "cast(0 as double), (acc, x) -> acc + x) END"
            ).alias("idcg"),
        )
    )
    return (
        dcg.join(ideal, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("n_rel10").cast("bigint").alias("rel_in_top10"),
            F.round("dcg", 6).alias("dcg_at_10"),
            F.round("idcg", 6).alias("idcg"),
            F.when(
                F.col("idcg").isNull() | (F.col("idcg") == 0), F.lit(None)
            )
            .otherwise(F.round(F.col("dcg") / F.col("idcg"), 6))
            .alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


@register(
    "wasserstein_1d_drift",
    oracle="""
    WITH a AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS cents
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS cents
      FROM orders WHERE o_orderpriority = '5-LOW'),
    na AS (SELECT COUNT(*) AS n1 FROM a),
    nb AS (SELECT COUNT(*) AS n2 FROM b),
    merged AS (
      SELECT cents, SUM(ca) AS ca, SUM(cb) AS cb
      FROM (SELECT cents, 1 AS ca, 0 AS cb FROM a
            UNION ALL
            SELECT cents, 0 AS ca, 1 AS cb FROM b)
      GROUP BY cents),
    cdf AS (
      SELECT cents,
             SUM(ca) OVER (ORDER BY cents) AS cuma,
             SUM(cb) OVER (ORDER BY cents) AS cumb,
             LEAD(cents) OVER (ORDER BY cents) AS next_cents
      FROM merged),
    area AS (
      SELECT COALESCE(SUM(ABS(cuma * nb.n2 - cumb * na.n1)
                          * (next_cents - cents)), 0) AS num
      FROM cdf, na, nb WHERE next_cents IS NOT NULL)
    SELECT CAST(na.n1 AS BIGINT) AS n_urgent, CAST(nb.n2 AS BIGINT) AS n_low,
           CAST(area.num AS BIGINT) AS scaled_area,
           ROUND(CAST(area.num AS DOUBLE)
                 / (CAST(na.n1 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)
                    * CAST(100 AS DOUBLE)), 6) AS wasserstein_1
    FROM area, na, nb
    """,
)
def wasserstein_1d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between the order-
    price distributions of URGENT vs LOW priority — the drift metric
    that, unlike KS, weighs HOW FAR mass moved: W1 = ∫|F1−F2| dt
    computed exactly as Σ |cumA·n2 − cumB·n1| · gap over the merged
    support in integer cents (no floats until the final report; the
    scaled integer area is itself an output for bit-perfect audits).
    One shuffle to merge+sort the support; running counts via window."""
    orders = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        cents, F.lit(1).alias("ca"), F.lit(0).alias("cb")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        cents, F.lit(0).alias("ca"), F.lit(1).alias("cb")
    )
    merged = (
        a.unionAll(b)
        .groupBy("cents")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    na = a.agg(F.count(F.lit(1)).alias("n1"))
    nb = b.agg(F.count(F.lit(1)).alias("n2"))
    wo = Window.orderBy("cents")
    cdf = merged.select(
        "cents",
        F.sum("ca").over(wo).alias("cuma"),
        F.sum("cb").over(wo).alias("cumb"),
        F.lead("cents").over(wo).alias("next_cents"),
    )
    area = (
        cdf.filter(F.col("next_cents").isNotNull())
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.coalesce(
                F.sum(
                    F.abs(
                        F.col("cuma") * F.col("n2")
                        - F.col("cumb") * F.col("n1")
                    )
                    * (F.col("next_cents") - F.col("cents"))
                ),
                F.lit(0),
            ).alias("num")
        )
    )
    return (
        area.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n1").cast("bigint").alias("n_urgent"),
            F.col("n2").cast("bigint").alias("n_low"),
            F.col("num").cast("bigint").alias("scaled_area"),
            F.round(
                F.col("num").cast("double")
                / (
                    F.col("n1").cast("double")
                    * F.col("n2").cast("double")
                    * F.lit(100).cast("double")
                ),
                6,
            ).alias("wasserstein_1"),
        )
    )


@register(
    "cmh_stratified_odds",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y,
             COUNT(*) AS activity
      FROM events GROUP BY user_id),
    strata AS (
      SELECT arm, y,
             NTILE(3) OVER (ORDER BY activity, user_id) AS stratum
      FROM per_user),
    cells AS (
      SELECT stratum,
             SUM(CASE WHEN arm = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN arm = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN arm = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN arm = 0 AND y = 0 THEN 1 ELSE 0 END) AS d,
             COUNT(*) AS n
      FROM strata GROUP BY stratum),
    terms AS (
      SELECT stratum, a, b, c, d, n,
             CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS rnum,
             CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS rden,
             CAST(a AS DOUBLE)
               - CAST((a + b) AS DOUBLE) * CAST((a + c) AS DOUBLE)
                 / CAST(n AS DOUBLE) AS dev,
             CAST((a + b) AS DOUBLE) * CAST((c + d) AS DOUBLE)
               * CAST((a + c) AS DOUBLE) * CAST((b + d) AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  * CAST(n - 1 AS DOUBLE)) AS vr
      FROM cells WHERE n >= 2),
    folded AS (
      SELECT list_reduce(list(rnum ORDER BY stratum), (x, y) -> x + y)
               AS sum_rnum,
             list_reduce(list(rden ORDER BY stratum), (x, y) -> x + y)
               AS sum_rden,
             list_reduce(list(dev ORDER BY stratum), (x, y) -> x + y)
               AS sum_dev,
             list_reduce(list(vr ORDER BY stratum), (x, y) -> x + y)
               AS sum_vr
      FROM terms)
    SELECT ROUND(sum_rnum / sum_rden, 6) AS cmh_odds_ratio,
           ROUND(sum_dev * sum_dev / sum_vr, 6) AS cmh_chi2,
           ROUND(sum_dev, 6) AS total_deviation
    FROM folded
    """,
)
def cmh_stratified_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel pooled odds ratio + chi-square across
    activity strata: the arm association with "error-heavy user"
    (error share above the 20% base rate — an exact integer predicate)
    tested WITHIN each activity tertile, immune to the confounding where
    one arm simply has more active users (Simpson's trap). Per-stratum 2×2
    cells are exact integer counts; the MH ratio Σ(ad/n)/Σ(bc/n) and
    the continuity-free chi-square fold stratum-ascending. One
    user-keyed aggregate; three strata — broadcast-scale statistics."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
        F.count(F.lit(1)).alias("activity"),
    )
    strata = per_user.select(
        (F.col("user_id") % 2).alias("arm"),
        "y",
        F.ntile(3).over(Window.orderBy("activity", "user_id")).alias("stratum"),
    )
    cells = strata.groupBy("stratum").agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("y") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("y") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("y") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("y") == 0), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    terms = cells.filter(F.col("n") >= 2).select(
        "stratum",
        (dd("a") * dd("d") / dd("n")).alias("rnum"),
        (dd("b") * dd("c") / dd("n")).alias("rden"),
        (
            dd("a")
            - (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            / dd("n")
        ).alias("dev"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
            / (dd("n") * dd("n") * (F.col("n") - 1).cast("double"))
        ).alias("vr"),
    )
    folded = terms.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(stratum, rnum))), "
            "cast(0 as double), (acc, e) -> acc + e.rnum)"
        ).alias("sum_rnum"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(stratum, rden))), "
            "cast(0 as double), (acc, e) -> acc + e.rden)"
        ).alias("sum_rden"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(stratum, dev))), "
            "cast(0 as double), (acc, e) -> acc + e.dev)"
        ).alias("sum_dev"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(stratum, vr))), "
            "cast(0 as double), (acc, e) -> acc + e.vr)"
        ).alias("sum_vr"),
    )
    return folded.select(
        F.round(F.col("sum_rnum") / F.col("sum_rden"), 6).alias(
            "cmh_odds_ratio"
        ),
        F.round(
            F.col("sum_dev") * F.col("sum_dev") / F.col("sum_vr"), 6
        ).alias("cmh_chi2"),
        F.round("sum_dev", 6).alias("total_deviation"),
    )


@register(
    "feature_hash_collision_audit",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT w FROM toks WHERE w <> ''),
    buckets AS (
      SELECT CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 1024
               AS f,
             COUNT(*) AS load
      FROM t2 GROUP BY f),
    vocab AS (SELECT COUNT(*) AS v FROM t2),
    hist AS (
      SELECT load, COUNT(*) AS n_buckets FROM buckets GROUP BY load)
    SELECT CAST(h.load AS INT) AS bucket_load,
           CAST(h.n_buckets AS BIGINT) AS n_buckets,
           CAST(vocab.v AS BIGINT) AS vocab_size,
           ROUND(CAST(h.load * h.n_buckets AS DOUBLE)
                 / CAST(vocab.v AS DOUBLE), 6) AS token_share,
           CAST(1024 - (SELECT SUM(n_buckets) FROM hist) AS BIGINT)
             AS empty_buckets
    FROM hist h, vocab
    ORDER BY bucket_load
    """,
)
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision audit of the 1024-bucket feature-hashing scheme the
    DSIR weights rely on: the distribution of distinct tokens per bucket
    (how many buckets carry 1, 2, 3… tokens), what share of the
    vocabulary sits at each load level, and how many buckets stay empty
    — the first thing to check before trusting any hashed-feature
    model. Distinct-token dedup is one shuffle; the bucket histogram is
    1024 rows folding to a handful."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
                )
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    toks = op_cache.reuse(toks)
    buckets = toks.groupBy(
        F.expr("CAST(conv(substring(md5(w),1,15),16,10) AS BIGINT) % 1024").alias(
            "f"
        )
    ).agg(F.count(F.lit(1)).alias("load"))
    vocab = toks.agg(F.count(F.lit(1)).alias("v"))
    hist = buckets.groupBy("load").agg(F.count(F.lit(1)).alias("n_buckets"))
    used = hist.agg(F.sum("n_buckets").alias("used"))
    return (
        hist.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(used))
        .select(
            F.col("load").cast("int").alias("bucket_load"),
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("v").cast("bigint").alias("vocab_size"),
            F.round(
                (F.col("load") * F.col("n_buckets")).cast("double")
                / F.col("v").cast("double"),
                6,
            ).alias("token_share"),
            (F.lit(1024) - F.col("used")).cast("bigint").alias("empty_buckets"),
        )
        .orderBy("bucket_load")
    )


@register(
    "randomized_response_debias",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END
               AS truth
      FROM events GROUP BY user_id),
    rr AS (
      SELECT user_id, truth,
             CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 4 = 0
                  THEN 1 - truth ELSE truth END AS reported
      FROM per_user),
    agg AS (
      SELECT COUNT(*) AS n, SUM(truth) AS t, SUM(reported) AS r FROM rr)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(CAST(t AS DOUBLE) / CAST(n AS DOUBLE), 6) AS true_rate,
           ROUND(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) AS reported_rate,
           ROUND((CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(0.25 AS DOUBLE))
                 / CAST(0.5 AS DOUBLE), 6) AS debiased_rate,
           ROUND(ABS((CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(0.25 AS DOUBLE)) / CAST(0.5 AS DOUBLE)
                     - CAST(t AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS estimator_error
    FROM agg
    """,
)
def randomized_response_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response privacy mechanism + its unbiased estimator:
    each user's sensitive bit (error-heavy usage) flips with probability
    1/4 — simulated by a DETERMINISTIC md5 coin so the whole pipeline
    stays value-checkable — and the analyst recovers the population rate
    via p̂ = (observed − q)/(1 − 2q) with q = 1/4, never seeing any
    individual's true bit. Reports true vs reported vs debiased rate and
    the realized estimator error. The local-DP aggregation shape: one
    user-keyed aggregate, one scalar fold."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("truth")
    )
    rr = per_user.select(
        "truth",
        F.when(
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)),1,15),16,10) "
                "AS BIGINT) % 4 = 0"
            ),
            1 - F.col("truth"),
        )
        .otherwise(F.col("truth"))
        .alias("reported"),
    )
    agg = rr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("truth").alias("t"),
        F.sum("reported").alias("r"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    q = F.lit(0.25).cast("double")
    debiased = (d("r") / d("n") - q) / F.lit(0.5).cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(d("t") / d("n"), 6).alias("true_rate"),
        F.round(d("r") / d("n"), 6).alias("reported_rate"),
        F.round(debiased, 6).alias("debiased_rate"),
        F.round(F.abs(debiased - d("t") / d("n")), 6).alias("estimator_error"),
    )


@register(
    "wilson_score_intervals",
    oracle="""
    WITH per_nation AS (
      SELECT n.n_name AS nation, COUNT(*) AS n,
             SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    wil AS (
      SELECT nation, n, x,
             CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(1.959964 AS DOUBLE) AS z,
             CAST(n AS DOUBLE) AS nd
      FROM per_nation)
    SELECT nation, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
           ROUND(p, 6) AS rate,
           ROUND((p + z * z / (2 * nd)
                  - z * SQRT(p * (1 - p) / nd + z * z / (4 * nd * nd)))
                 / (1 + z * z / nd), 6) AS wilson_low,
           ROUND((p + z * z / (2 * nd)
                  + z * SQRT(p * (1 - p) / nd + z * z / (4 * nd * nd)))
                 / (1 + z * z / nd), 6) AS wilson_high
    FROM wil
    ORDER BY nation
    """,
)
def wilson_score_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for per-nation return
    rates — the proportion interval that behaves at small n and p near
    0/1 where the naive Wald interval collapses. The z constant is
    pinned (1.959964) in both engines; everything else is exact counts
    then fixed-order double arithmetic. One broadcast-dim aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    per_nation = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
    )
    p = F.col("x").cast("double") / F.col("n").cast("double")
    z = F.lit(1.959964).cast("double")
    nd = F.col("n").cast("double")
    center = p + z * z / (2 * nd)
    margin = z * F.sqrt(p * (1 - p) / nd + z * z / (4 * nd * nd))
    denom = 1 + z * z / nd
    return per_nation.select(
        "nation",
        F.col("n").cast("bigint").alias("n"),
        F.col("x").cast("bigint").alias("x"),
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    ).orderBy("nation")


@register(
    "isotonic_minimax_fit",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS i,
             SUM(y) OVER (ORDER BY d) AS s
      FROM monthly),
    pairs AS (
      SELECT j.i AS j, k.i AS k,
             k.s - COALESCE(jp.s, 0) AS num,
             k.i - j.i + 1 AS den
      FROM idx j
      JOIN idx k ON k.i >= j.i
      LEFT JOIN idx jp ON jp.i = j.i - 1),
    inner_min AS (
      SELECT t.i, p.j,
             CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE) AS val,
             ROW_NUMBER() OVER (PARTITION BY t.i, p.j
               ORDER BY CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE), p.k)
               AS rn
      FROM idx t JOIN pairs p ON p.j <= t.i AND p.k >= t.i),
    outer_max AS (
      SELECT i, val,
             ROW_NUMBER() OVER (PARTITION BY i ORDER BY val DESC, j) AS rn
      FROM inner_min WHERE rn = 1)
    SELECT x.i AS month_index, x.d AS month,
           CAST(x.y AS BIGINT) AS revenue_cents,
           ROUND(o.val / CAST(100 AS DOUBLE), 6) AS isotonic_fit
    FROM idx x JOIN outer_max o ON o.i = x.i AND o.rn = 1
    ORDER BY month_index
    """,
)
def isotonic_minimax_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic (monotone nondecreasing) regression of monthly
    revenue on time via the minimax identity ŷ_i = max_{j≤i} min_{k≥i}
    mean(y[j..k]) — the same fit PAVA produces, but expressed as pure
    relational algebra (prefix sums + a bounded triple join) instead of
    a sequential pool-merge loop, so it distributes and value-checks.
    Revenue is integer cents; candidate means are rationals whose
    minimum gap (≥1/den² cents) dwarfs double ULP at these magnitudes,
    so the double sort keys are exact and ties break on k/j. The series
    is the MONTHLY aggregate (~36 rows) — aggregate first, then go
    cubic only on the tiny series."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate"))
        .cast("date")
        .alias("d")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("y")
    )
    wd = Window.orderBy("d")
    idx = monthly.select(
        "d",
        "y",
        F.row_number().over(wd).alias("i"),
        F.sum("y").over(wd).alias("s"),
    )
    idx = op_cache.reuse(idx)
    j = idx.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    k = idx.select(F.col("i").alias("k"), F.col("s").alias("sk"))
    jp = idx.select((F.col("i") + 1).alias("jn"), F.col("s").alias("sp"))
    pairs = (
        j.join(k, F.col("k") >= F.col("j"))
        .join(jp, F.col("jn") == F.col("j"), "left")
        .select(
            "j",
            "k",
            (F.col("sk") - F.coalesce(F.col("sp"), F.lit(0))).alias("num"),
            (F.col("k") - F.col("j") + 1).alias("den"),
        )
    )
    t = idx.select(F.col("i").alias("i"))
    trip = t.join(pairs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
    val = (F.col("num").cast("double") / F.col("den").cast("double")).alias(
        "val"
    )
    wmin = Window.partitionBy("i", "j").orderBy(
        F.col("num").cast("double") / F.col("den").cast("double"), "k"
    )
    inner_min = (
        trip.select("i", "j", "k", val, F.row_number().over(wmin).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    wmax = Window.partitionBy("i").orderBy(F.desc("val"), "j")
    outer_max = (
        inner_min.select("i", "val", F.row_number().over(wmax).alias("rn2"))
        .filter(F.col("rn2") == 1)
    )
    return (
        idx.join(outer_max, "i")
        .select(
            F.col("i").alias("month_index"),
            F.col("d").alias("month"),
            F.col("y").cast("bigint").alias("revenue_cents"),
            F.round(F.col("val") / F.lit(100).cast("double"), 6).alias(
                "isotonic_fit"
            ),
        )
        .orderBy("month_index")
    )


@register("bradley_terry_winrates", oracle=_bradley_terry_oracle())
def bradley_terry_winrates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fit over pairwise win counts — the
    arena-style eval model: each language "plays" every other (a doc
    beats another if its length bucket is strictly larger), win counts
    come from an exact value-histogram join (never doc×doc pairs), and
    three minorization-maximization rounds p_i ← W_i / Σ n_ij/(p_i+p_j)
    fit the strengths. The 5×5 win matrix is collected (broadcast-scale
    aggregate state, the k-means pattern) and iterated on the driver
    with opponent-ascending fold order matching the oracle bit-for-bit.
    Histograms shuffle once on (lang, bucket)."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.groupBy(
        "lang", F.expr("n_chars DIV 50").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = vals.select(
        F.col("lang").alias("la"), F.col("v").alias("va"), F.col("c").alias("ca")
    )
    b = vals.select(
        F.col("lang").alias("lb"), F.col("v").alias("vb"), F.col("c").alias("cb")
    )
    wins = (
        a.join(b, (F.col("la") != F.col("lb")) & (F.col("va") > F.col("vb")))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("w"))
    )
    rows = wins.collect()
    w: dict[tuple[str, str], int] = {(r["la"], r["lb"]): r["w"] for r in rows}
    langs = sorted({la for la, _ in w} | {lb for _, lb in w})
    wtot = {la: sum(c for (x, _), c in w.items() if x == la) for la in langs}
    npair = {
        (la, lb): w.get((la, lb), 0) + w.get((lb, la), 0)
        for la in langs
        for lb in langs
        if la != lb
    }
    p = {la: 1.0 for la in langs}
    for _ in range(_BT_ROUNDS):
        newp = {}
        for la in langs:
            den = 0.0
            for lb in sorted(x for x in langs if x != la):
                den += float(npair[(la, lb)]) / (p[la] + p[lb])
            newp[la] = float(wtot[la]) / den
        p = newp
    tp = 0.0
    for la in sorted(langs):
        tp += p[la]
    ranked = sorted(langs, key=lambda x: (-p[x], x))
    out = [
        (la, wtot[la], round(p[la], 6), round(p[la] / tp, 6), i + 1)
        for i, la in enumerate(ranked)
    ]
    return spark.createDataFrame(
        out,
        "lang string, wins bigint, bt_strength double, bt_share double, "
        "rank int",
    ).orderBy("rank")


@register(
    "mahalanobis_outliers_2d",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey AS okey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS x,
             COUNT(*) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM per_order),
    cov AS (
      SELECT n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vx,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS cxy
      FROM mom),
    md AS (
      SELECT p.okey,
             CAST(p.x AS DOUBLE) AS xd, CAST(p.y AS DOUBLE) AS yd,
             ((CAST(p.x AS DOUBLE) - c.mx) * (CAST(p.x AS DOUBLE) - c.mx)
                * c.vy
              - 2 * (CAST(p.x AS DOUBLE) - c.mx)
                  * (CAST(p.y AS DOUBLE) - c.my) * c.cxy
              + (CAST(p.y AS DOUBLE) - c.my) * (CAST(p.y AS DOUBLE) - c.my)
                * c.vx)
             / (c.vx * c.vy - c.cxy * c.cxy) AS d2
      FROM per_order p, cov c)
    SELECT okey AS o_orderkey, ROUND(xd, 2) AS totalprice,
           CAST(yd AS BIGINT) AS n_lines, ROUND(d2, 6) AS mahalanobis_sq
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY d2 DESC, okey) AS rk
          FROM md)
    WHERE rk <= 20
    ORDER BY mahalanobis_sq DESC, o_orderkey
    """,
)
def mahalanobis_outliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers by exact Mahalanobis distance in the
    (order value, line count) plane — flags orders whose COMBINATION is
    anomalous even when each marginal looks normal (a cheap order with
    30 lines), which per-column z-scores can't see. The 2×2 covariance
    inverts in closed form from exact decimal/integer moment sums; one
    fact aggregate + one broadcast of the 1-row covariance. Top-20 by
    distance."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    per_order = op_cache.reuse(per_order)
    mom = per_order.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nm1 = d("n") * (F.col("n") - 1).cast("double")
    cov = mom.select(
        (d("sx") / d("n")).alias("mx"),
        (d("sy") / d("n")).alias("my"),
        ((d("n") * d("sxx") - d("sx") * d("sx")) / nm1).alias("vx"),
        ((d("n") * d("syy") - d("sy") * d("sy")) / nm1).alias("vy"),
        ((d("n") * d("sxy") - d("sx") * d("sy")) / nm1).alias("cxy"),
    )
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    d2 = (
        (xd - F.col("mx")) * (xd - F.col("mx")) * F.col("vy")
        - 2 * (xd - F.col("mx")) * (yd - F.col("my")) * F.col("cxy")
        + (yd - F.col("my")) * (yd - F.col("my")) * F.col("vx")
    ) / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy"))
    md = per_order.crossJoin(F.broadcast(cov)).select(
        "okey", xd.alias("xd"), yd.alias("yd"), d2.alias("d2")
    )
    return (
        md.orderBy(F.desc("d2"), "okey")
        .limit(20)
        .select(
            F.col("okey").alias("o_orderkey"),
            F.round("xd", 2).alias("totalprice"),
            F.col("yd").cast("bigint").alias("n_lines"),
            F.round("d2", 6).alias("mahalanobis_sq"),
        )
        .orderBy(F.desc("mahalanobis_sq"), "o_orderkey")
    )


@register(
    "gformula_standardized_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y,
             COUNT(*) AS activity
      FROM events GROUP BY user_id),
    strat AS (
      SELECT arm, y,
             NTILE(3) OVER (ORDER BY activity, user_id) AS s
      FROM per_user),
    cells AS (
      SELECT s, arm, COUNT(*) AS n, SUM(y) AS x
      FROM strat GROUP BY s, arm),
    sw AS (
      SELECT s, SUM(n) AS ns FROM cells GROUP BY s),
    tot AS (SELECT SUM(n) AS nt FROM cells),
    rates AS (
      SELECT c.s, c.arm,
             CAST(c.x AS DOUBLE) / CAST(c.n AS DOUBLE) AS r,
             CAST(sw.ns AS DOUBLE) / CAST(tot.nt AS DOUBLE) AS wgt
      FROM cells c JOIN sw USING (s), tot),
    std AS (
      SELECT arm,
             list_reduce(list(r * wgt ORDER BY s), (a, b) -> a + b)
               AS std_rate
      FROM rates GROUP BY arm),
    wide AS (
      SELECT MAX(CASE WHEN arm = 1 THEN std_rate END) AS r1,
             MAX(CASE WHEN arm = 0 THEN std_rate END) AS r0
      FROM std)
    SELECT ROUND(r1, 6) AS standardized_treated,
           ROUND(r0, 6) AS standardized_control,
           ROUND(r1 - r0, 6) AS standardized_effect,
           ROUND(r1 / r0, 6) AS standardized_ratio
    FROM wide
    """,
)
def gformula_standardized_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization (the g-formula for a point exposure): the
    arm-specific "error-heavy user" rate within each activity tertile,
    re-weighted by the MARGINAL stratum distribution — the adjusted
    effect you quote when arms have different activity mixes. Σ_s
    P(s)·P(y|arm,s) folds stratum-ascending; companion to the CMH odds
    ratio (that one tests, this one estimates). One user aggregate, one
    3-stratum fold."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
        F.count(F.lit(1)).alias("activity"),
    )
    strat = per_user.select(
        (F.col("user_id") % 2).alias("arm"),
        "y",
        F.ntile(3).over(Window.orderBy("activity", "user_id")).alias("s"),
    )
    cells = strat.groupBy("s", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("x")
    )
    cells = op_cache.reuse(cells)
    sw = cells.groupBy("s").agg(F.sum("n").alias("ns"))
    tot = cells.agg(F.sum("n").alias("nt"))
    rates = (
        cells.join(sw, "s")
        .crossJoin(F.broadcast(tot))
        .select(
            "s",
            "arm",
            (F.col("x").cast("double") / F.col("n").cast("double")).alias("r"),
            (F.col("ns").cast("double") / F.col("nt").cast("double")).alias(
                "wgt"
            ),
        )
    )
    std = rates.groupBy("arm").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(s, r * wgt AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("std_rate")
    )
    wide = std.agg(
        F.max(F.when(F.col("arm") == 1, F.col("std_rate"))).alias("r1"),
        F.max(F.when(F.col("arm") == 0, F.col("std_rate"))).alias("r0"),
    )
    return wide.select(
        F.round("r1", 6).alias("standardized_treated"),
        F.round("r0", 6).alias("standardized_control"),
        F.round(F.col("r1") - F.col("r0"), 6).alias("standardized_effect"),
        F.round(F.col("r1") / F.col("r0"), 6).alias("standardized_ratio"),
    )


@register(
    "burrows_delta_style",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT source, w FROM toks WHERE w <> ''),
    fw AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
        FROM t2 GROUP BY w) WHERE rn <= 20),
    stot AS (SELECT source, COUNT(*) AS n FROM t2 GROUP BY source),
    freq AS (
      SELECT s.source, f.w,
             CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(s.n AS DOUBLE) AS fr
      FROM stot s CROSS JOIN fw f
      LEFT JOIN (SELECT source, w, COUNT(*) AS c FROM t2
                 GROUP BY source, w) c
        ON c.source = s.source AND c.w = f.w),
    ns AS (SELECT COUNT(*) AS k FROM stot),
    mu AS (
      SELECT w,
             list_reduce(list(fr ORDER BY source), (a, b) -> a + b) AS sfr,
             list_reduce(list(fr * fr ORDER BY source), (a, b) -> a + b)
               AS sfr2
      FROM freq GROUP BY w),
    stats AS (
      SELECT mu.w,
             mu.sfr / CAST(ns.k AS DOUBLE) AS m,
             SQRT(mu.sfr2 / CAST(ns.k AS DOUBLE)
                  - (mu.sfr / CAST(ns.k AS DOUBLE))
                    * (mu.sfr / CAST(ns.k AS DOUBLE))) AS sd
      FROM mu, ns),
    z AS (
      SELECT f.source, f.w, (f.fr - s.m) / s.sd AS z
      FROM freq f JOIN stats s ON s.w = f.w),
    delta AS (
      SELECT a.source AS s1, b.source AS s2,
             list_reduce(list(ABS(a.z - b.z) ORDER BY a.w), (x, y) -> x + y)
               / CAST(20 AS DOUBLE) AS delta
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT s1, s2, ROUND(delta, 6) AS burrows_delta,
           CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY delta, s1, s2) AS rk
          FROM delta)
    WHERE rk <= 15
    ORDER BY rank
    """,
)
def burrows_delta_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources — the
    authorship-attribution classic, here hunting sources that write in
    the same "voice" (a tell for synthetic or templated content):
    z-score each source's relative frequency of the 20 corpus-wide
    function words, then Delta = mean |z1 − z2| per source pair; the 15
    closest pairs are the style twins. Every mean/σ/Delta folds in a
    deterministic order; the function-word list is a top-k broadcast
    and the pair join runs over 20×20 source vectors, never documents."""
    docs = _t(spark, sf_dir, "documents")
    t2 = docs.select(
        "source",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    t2 = op_cache.reuse(t2)
    fw = (
        t2.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(20)
        .select("w")
    )
    stot = t2.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    swc = t2.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    freq = (
        stot.crossJoin(F.broadcast(fw))
        .join(swc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n").cast("double")
            ).alias("fr"),
        )
    )
    freq = op_cache.reuse(freq)
    ns = stot.agg(F.count(F.lit(1)).alias("k"))
    mu = freq.groupBy("w").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, fr))), "
            "cast(0 as double), (acc, e) -> acc + e.fr)"
        ).alias("sfr"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, fr * fr AS f2))), "
            "cast(0 as double), (acc, e) -> acc + e.f2)"
        ).alias("sfr2"),
    )
    stats = mu.crossJoin(F.broadcast(ns)).select(
        "w",
        (F.col("sfr") / F.col("k").cast("double")).alias("m"),
        F.sqrt(
            F.col("sfr2") / F.col("k").cast("double")
            - (F.col("sfr") / F.col("k").cast("double"))
            * (F.col("sfr") / F.col("k").cast("double"))
        ).alias("sd"),
    )
    z = freq.join(F.broadcast(stats), "w").select(
        "source", "w", ((F.col("fr") - F.col("m")) / F.col("sd")).alias("z")
    )
    a = z.select(
        F.col("source").alias("s1"), F.col("w").alias("wa"), F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("s2"), F.col("w").alias("wb"), F.col("z").alias("zb")
    )
    delta = (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(
            (
                F.expr(
                    "aggregate(array_sort(collect_list(struct(wa, "
                    "ABS(za - zb) AS az))), "
                    "cast(0 as double), (acc, e) -> acc + e.az)"
                )
                / F.lit(20).cast("double")
            ).alias("delta")
        )
    )
    wrk = Window.orderBy("delta", "s1", "s2")
    return (
        delta.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 15)
        .select(
            "s1",
            "s2",
            F.round("delta", 6).alias("burrows_delta"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "dirichlet_ql_retrieval",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT doc_id, w FROM toks WHERE w <> ''),
    q AS (
      SELECT w, c FROM (
        SELECT w, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
        FROM t2 GROUP BY w) WHERE rn <= 3),
    ctot AS (SELECT COUNT(*) AS n FROM t2),
    dlen AS (SELECT doc_id, COUNT(*) AS len FROM t2 GROUP BY doc_id),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM t2
      WHERE w IN (SELECT w FROM q) GROUP BY doc_id, w),
    scored AS (
      SELECT d.doc_id,
             list_reduce(list(
               LN((CAST(COALESCE(tf.tf, 0) AS DOUBLE)
                   + CAST(100 AS DOUBLE)
                     * (CAST(q.c AS DOUBLE) / CAST(ctot.n AS DOUBLE)))
                  / (CAST(d.len AS DOUBLE) + CAST(100 AS DOUBLE)))
               ORDER BY q.w), (a, b) -> a + b) AS score
      FROM dlen d CROSS JOIN q
      LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.w = q.w, ctot
      GROUP BY d.doc_id)
    SELECT doc_id, ROUND(score, 6) AS ql_score, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 10
    ORDER BY rank
    """,
)
def dirichlet_ql_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ=100) — the
    language-modeling sibling of BM25: score(q,d) = Σ_w ln((tf +
    μ·P(w|C)) / (len_d + μ)) for the 3 highest-frequency corpus terms
    as the query. Every document scores (the smoothing mass never
    vanishes), shorter documents aren't over-rewarded, and the top-10
    ranking is the output. Corpus stats are one broadcast row + a
    3-term broadcast list; per-doc folds run term-ascending for
    bit-stable log sums."""
    docs = _t(spark, sf_dir, "documents")
    t2 = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    t2 = op_cache.reuse(t2)
    q = (
        t2.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(3)
    )
    ctot = t2.agg(F.count(F.lit(1)).alias("n"))
    dlen = t2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    tf = (
        t2.join(F.broadcast(q.select("w")), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        dlen.crossJoin(F.broadcast(q))
        .join(tf, ["doc_id", "w"], "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "doc_id",
            "w",
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + F.lit(100).cast("double")
                    * (F.col("c").cast("double") / F.col("n").cast("double"))
                )
                / (F.col("len").cast("double") + F.lit(100).cast("double"))
            ).alias("term"),
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(w, term))), "
                "cast(0 as double), (acc, e) -> acc + e.term)"
            ).alias("score")
        )
    )
    wrk = Window.orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 10)
        .select(
            "doc_id",
            F.round("score", 6).alias("ql_score"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "attribution_position_based",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT p.purchase_id, p.value, c.event_id AS click_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts, c.event_id) AS pos,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS k
      FROM p JOIN events c
        ON c.event_type = 'click' AND c.user_id = p.user_id
       AND c.ts <= p.pts AND c.ts >= p.pts - INTERVAL 10 DAY),
    w AS (
      SELECT purchase_id, value, click_id,
             CASE WHEN k = 1 THEN CAST(1 AS DOUBLE)
                  WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
                  WHEN pos = 1 OR pos = k THEN CAST(0.4 AS DOUBLE)
                  ELSE CAST(0.2 AS DOUBLE) / CAST(k - 2 AS DOUBLE)
             END AS wgt
      FROM touch),
    credit AS (
      SELECT click_id,
             ROUND(list_reduce(
               list(CAST(value AS DOUBLE) * wgt ORDER BY purchase_id),
               (a, b) -> a + b), 6) AS credited_value,
             COUNT(*) AS n_purchases
      FROM w GROUP BY click_id)
    SELECT click_id, credited_value, n_purchases
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY credited_value DESC, click_id) AS rn FROM credit)
    WHERE rn <= 20 ORDER BY credited_value DESC, click_id
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the fourth
    classic model beside linear, time-decay, and Shapley/Markov: each
    purchase gives 40% credit to the FIRST and LAST click in its 10-day
    window and splits the remaining 20% across the middle (degenerating
    to 100%/50-50 for 1-2 touches). Same bounded interval join as
    time-decay; weights are exact rationals evaluated in fixed-order
    doubles and per-click credit folds purchase-ascending."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    touch = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 DAYS")),
    )
    wp = Window.partitionBy("purchase_id").orderBy("cts", "click_id")
    wk = Window.partitionBy("purchase_id")
    pos = touch.select(
        "purchase_id",
        "value",
        "click_id",
        F.row_number().over(wp).alias("pos"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    wgt = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(0.4)
        )
        .otherwise(
            F.lit(0.2).cast("double") / (F.col("k") - 2).cast("double")
        )
    )
    w = pos.select("purchase_id", "value", "click_id", wgt.alias("wgt"))
    credit = w.groupBy("click_id").agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(purchase_id, "
                "CAST(value AS DOUBLE) * wgt AS term))), "
                "cast(0 as double), (acc, e) -> acc + e.term)"
            ),
            6,
        ).alias("credited_value"),
        F.count(F.lit(1)).alias("n_purchases"),
    )
    return (
        credit.orderBy(F.desc("credited_value"), "click_id")
        .limit(20)
        .orderBy(F.desc("credited_value"), "click_id")
    )


__all__ = [
    't_closeness_audit',
    'group_kfold_assignment',
    'top_k_with_ties',
    'seasonal_adjusted_anomalies',
    'zorder_block_pruning_audit',
    'sprt_sequential_test',
    'exact_kth_selection',
    'business_days_latency',
    'source_overlap_jaccard',
    'yoy_aligned_growth',
    'skyline_price_quantity',
    'fractional_knapsack_revenue',
    'longest_activity_streak',
    'revenue_bridge_monthly',
    'autocomplete_prefix_index',
    'csv_dialect_roundtrip',
    'kcenter_coreset_selection',
    'quantified_subquery_breadth',
    'filter_agreement_kappa',
    'simpsons_paradox_audit',
    'littles_law_identity',
    'char_entropy_compression_bound',
    'mutual_information_feature_label',
    'target_encoding_smoothed',
    'term_burstiness_top20',
    'markov_entropy_rate',
    'timestamp_delta_encoding_stats',
    'blocking_recall_eval',
    'quantile_treatment_effect',
    'ab_srm_check',
    'did_estimator',
    'anomaly_ensemble_vote',
    'rbo_ranking_similarity',
    'ips_offpolicy_value',
    'ab_mde_calculator',
    'partial_correlation_audit',
    'slope_heterogeneity_by_priority',
    'lead_lag_correlation_scan',
    'misra_gries_heavy_hitters',
    'fellegi_sunter_linkage',
    'hill_tail_index',
    'calibration_reliability_bins',
    'shapley_attribution_channels',
    'benjamini_hochberg_fdr',
    'cuped_variance_reduction',
    'empirical_bayes_shrunk_rates',
    'delta_method_ratio_metric',
    'regression_discontinuity',
    'uplift_qini_deciles',
    'model_cascade_frontier',
    'markov_removal_attribution',
    'ndcg_retrieval_eval',
    'wasserstein_1d_drift',
    'cmh_stratified_odds',
    'feature_hash_collision_audit',
    'randomized_response_debias',
    'wilson_score_intervals',
    'isotonic_minimax_fit',
    'bradley_terry_winrates',
    'mahalanobis_outliers_2d',
    'gformula_standardized_effect',
    'burrows_delta_style',
    'dirichlet_ql_retrieval',
    'attribution_position_based',
]
