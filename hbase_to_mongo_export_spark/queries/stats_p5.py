"""stats_p5 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "jenks_natural_breaks",
    oracle="""
    WITH bins AS (
      SELECT CAST(FLOOR(o_totalprice / CAST(5000 AS DOUBLE)) AS BIGINT)
               AS b,
             COUNT(*) AS c
      FROM orders GROUP BY 1),
    pre AS (
      SELECT b, ROW_NUMBER() OVER (ORDER BY b) AS i,
             SUM(c) OVER w AS pc,
             SUM(c * (2 * b + 1)) OVER w AS pu,
             SUM(c * (2 * b + 1) * (2 * b + 1)) OVER w AS pq
      FROM bins
      WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (
      SELECT MAX(i) AS nb, arg_max(pc, i) AS tc, arg_max(pu, i) AS tu,
             arg_max(pq, i) AS tq
      FROM pre),
    pairs AS (
      SELECT a.b AS b1, a.i AS i1, j.b AS b2, j.i AS i2,
             a.pc AS c1, j.pc AS c2, t.nb, t.tc, t.tu, t.tq,
             (CAST(a.pq AS DOUBLE)
              - CAST(a.pu AS DOUBLE) * CAST(a.pu AS DOUBLE)
                / CAST(a.pc AS DOUBLE))
             + (CAST(j.pq - a.pq AS DOUBLE)
                - CAST(j.pu - a.pu AS DOUBLE)
                  * CAST(j.pu - a.pu AS DOUBLE)
                  / CAST(j.pc - a.pc AS DOUBLE))
             + (CAST(t.tq - j.pq AS DOUBLE)
                - CAST(t.tu - j.pu AS DOUBLE)
                  * CAST(t.tu - j.pu AS DOUBLE)
                  / CAST(t.tc - j.pc AS DOUBLE)) AS sse
      FROM pre a, pre j, tot t
      WHERE a.i < j.i AND j.i < t.nb),
    best AS (SELECT * FROM pairs ORDER BY sse, i1, i2 LIMIT 1)
    SELECT CAST(tc AS BIGINT) AS n_orders,
           CAST(nb AS INT) AS n_bins,
           CAST((b1 + 1) * 5000 AS BIGINT) AS break_1_upper,
           CAST((b2 + 1) * 5000 AS BIGINT) AS break_2_upper,
           CAST(c1 AS BIGINT) AS class1_count,
           CAST(c2 - c1 AS BIGINT) AS class2_count,
           CAST(tc - c2 AS BIGINT) AS class3_count,
           ROUND(CAST(1 AS DOUBLE)
                 - sse / (CAST(tq AS DOUBLE)
                          - CAST(tu AS DOUBLE) * CAST(tu AS DOUBLE)
                            / CAST(tc AS DOUBLE)), 6)
             AS goodness_of_variance_fit
    FROM best
    """,
)
def jenks_natural_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jenks natural-breaks classification of order totals into three
    classes — the cartographer's optimal 1-D clustering (exact global
    minimum of within-class variance, unlike greedy binary
    segmentation, and on the VALUE axis rather than time). Run on the
    $5000-bucket histogram: with ~100 nonempty buckets the exhaustive
    two-break search is a tiny triangular self-join, and every
    within-class SSE comes from integer prefix moments in doubled-
    center units (2b+1), so all candidate costs are deterministic
    double algebra with (sse, i, j) tiebreaks. Reports break
    boundaries, class sizes and the goodness-of-variance-fit that maps
    pick the class count by. One fact hash-agg; everything after is
    histogram-sized."""
    orders = _t(spark, sf_dir, "orders")
    bins = orders.groupBy(
        F.expr(
            "CAST(FLOOR(o_totalprice / CAST(5000 AS DOUBLE)) AS BIGINT)"
        ).alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = 2 * F.col("b") + 1
    pre = bins.select(
        "b",
        F.row_number().over(Window.orderBy("b")).alias("i"),
        F.sum("c").over(wcum).alias("pc"),
        F.sum(F.col("c") * u).over(wcum).alias("pu"),
        F.sum(F.col("c") * u * u).over(wcum).alias("pq"),
    )
    tot = pre.agg(
        F.max("i").alias("nb"),
        F.max_by("pc", "i").alias("tc"),
        F.max_by("pu", "i").alias("tu"),
        F.max_by("pq", "i").alias("tq"),
    )
    a = pre.alias("a")
    j = pre.alias("j")
    sse = (
        "(CAST(a.pq AS DOUBLE)"
        " - CAST(a.pu AS DOUBLE) * CAST(a.pu AS DOUBLE)"
        " / CAST(a.pc AS DOUBLE))"
        " + (CAST(j.pq - a.pq AS DOUBLE)"
        " - CAST(j.pu - a.pu AS DOUBLE) * CAST(j.pu - a.pu AS DOUBLE)"
        " / CAST(j.pc - a.pc AS DOUBLE))"
        " + (CAST(tq - j.pq AS DOUBLE)"
        " - CAST(tu - j.pu AS DOUBLE) * CAST(tu - j.pu AS DOUBLE)"
        " / CAST(tc - j.pc AS DOUBLE))"
    )
    pairs = (
        a.join(F.broadcast(j), F.col("a.i") < F.col("j.i"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("j.i") < F.col("nb"))
        .selectExpr(
            "a.b AS b1",
            "a.i AS i1",
            "j.b AS b2",
            "j.i AS i2",
            "a.pc AS c1",
            "j.pc AS c2",
            "nb",
            "tc",
            "tu",
            "tq",
            f"{sse} AS sse",
        )
    )
    best = pairs.orderBy("sse", "i1", "i2").limit(1)
    return best.selectExpr(
        "CAST(tc AS BIGINT) AS n_orders",
        "CAST(nb AS INT) AS n_bins",
        "CAST((b1 + 1) * 5000 AS BIGINT) AS break_1_upper",
        "CAST((b2 + 1) * 5000 AS BIGINT) AS break_2_upper",
        "CAST(c1 AS BIGINT) AS class1_count",
        "CAST(c2 - c1 AS BIGINT) AS class2_count",
        "CAST(tc - c2 AS BIGINT) AS class3_count",
        "ROUND(CAST(1 AS DOUBLE) - sse / (CAST(tq AS DOUBLE)"
        " - CAST(tu AS DOUBLE) * CAST(tu AS DOUBLE) / CAST(tc AS DOUBLE)),"
        " 6) AS goodness_of_variance_fit",
    )


@register(
    "transfer_entropy_updown",
    oracle="""
    WITH joined AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS r,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY 1),
    dirs AS (
      SELECT day,
             CASE WHEN r > LAG(r) OVER (ORDER BY day) THEN 1 ELSE 0 END
               AS y,
             CASE WHEN c > LAG(c) OVER (ORDER BY day) THEN 1 ELSE 0 END
               AS x,
             LAG(r) OVER (ORDER BY day) AS pr
      FROM joined),
    tri AS (
      SELECT LEAD(y) OVER (ORDER BY day) AS yn, y, x,
             LEAD(day) OVER (ORDER BY day) AS nd, day
      FROM dirs WHERE pr IS NOT NULL),
    cells AS (
      SELECT yn, y, x, COUNT(*) AS n
      FROM tri WHERE yn IS NOT NULL GROUP BY 1, 2, 3),
    margins AS (
      SELECT c.yn, c.y, c.x, c.n,
             SUM(c.n) OVER (PARTITION BY c.y, c.x) AS nyx,
             SUM(c.n) OVER (PARTITION BY c.yn, c.y) AS nyy,
             SUM(c.n) OVER (PARTITION BY c.y) AS ny,
             SUM(c.n) OVER () AS nt
      FROM cells c),
    terms AS (
      SELECT nt,
             list_reduce(list(
               CAST(n AS DOUBLE)
               * LN(CAST(n AS DOUBLE) * CAST(ny AS DOUBLE)
                    / (CAST(nyx AS DOUBLE) * CAST(nyy AS DOUBLE)))
               ORDER BY yn, y, x), (a, b) -> a + b) / MAX(nt) AS te
      FROM margins GROUP BY nt)
    SELECT CAST(nt AS BIGINT) AS n_transitions,
           ROUND(te, 6) AS te_clicks_to_purchases_nats,
           ROUND(te / CAST(0.6931471805599453 AS DOUBLE), 6)
             AS te_bits
    FROM terms
    """,
)
def transfer_entropy_updown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy from clicks to purchases: with both daily
    series binarized to up/down moves, TE(X->Y) = sum p(y',y,x)
    ln[ p(y'|y,x) / p(y'|y) ] measures how much knowing today's CLICK
    direction improves tomorrow's PURCHASE direction beyond purchases'
    own history — the directional, model-free upgrade of the
    registered lead-lag correlation scan (correlation is symmetric; TE
    has an arrow). All probabilities are exact integer counts over the
    8 (y',y,x) cells with window-sum margins, so each term is
    LN of an integer ratio product and the 8-term fold is
    sequence-pinned. ln(2) is a PINNED literal for the bits
    conversion. Two daily hash-aggs + an 8-row fold at any scale."""
    joined = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("r"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("c"),
        )
    )
    w = Window.orderBy("day")
    dirs = (
        joined
        .select(
            "day",
            F.when(F.col("r") > F.lag("r").over(w), 1).otherwise(0).alias(
                "y"
            ),
            F.when(F.col("c") > F.lag("c").over(w), 1).otherwise(0).alias(
                "x"
            ),
            F.lag("r").over(w).alias("pr"),
        )
        .filter(F.col("pr").isNotNull())
    )
    tri = dirs.select(
        F.lead("y").over(w).alias("yn"), "y", "x"
    ).filter(F.col("yn").isNotNull())
    cells = tri.groupBy("yn", "y", "x").agg(F.count(F.lit(1)).alias("n"))
    margins = cells.select(
        "yn",
        "y",
        "x",
        "n",
        F.sum("n").over(Window.partitionBy("y", "x")).alias("nyx"),
        F.sum("n").over(Window.partitionBy("yn", "y")).alias("nyy"),
        F.sum("n").over(Window.partitionBy("y")).alias("ny"),
        F.sum("n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nt"),
    )
    terms = margins.groupBy("nt").agg(
        (
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(yn, y, x, n, ny, nyx, nyy))), "
                "r -> CAST(r.n AS DOUBLE)"
                " * LN(CAST(r.n AS DOUBLE) * CAST(r.ny AS DOUBLE)"
                " / (CAST(r.nyx AS DOUBLE) * CAST(r.nyy AS DOUBLE)))), "
                "CAST(0 AS DOUBLE), (a, b) -> a + b)"
            )
            / F.max("nt")
        ).alias("te")
    )
    return terms.selectExpr(
        "CAST(nt AS BIGINT) AS n_transitions",
        "ROUND(te, 6) AS te_clicks_to_purchases_nats",
        "ROUND(te / CAST(0.6931471805599453 AS DOUBLE), 6) AS te_bits",
    )


@register(
    "lempel_ziv_complexity",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY 1),
    bits AS (
      SELECT day,
             CASE WHEN r > LAG(r) OVER (ORDER BY day)
                  THEN '1' ELSE '0' END AS b,
             LAG(r) OVER (ORDER BY day) AS pr
      FROM daily),
    seq AS (
      SELECT list(b ORDER BY day) AS bs FROM bits WHERE pr IS NOT NULL),
    parse AS (
      SELECT len(bs) AS n,
             list_reduce(list_concat([['|', '', '0']],
               list_transform(bs, ch -> [ch, '', '0'])),
               (a, x) -> CASE
                 WHEN instr(a[1], '|' || (a[2] || x[1]) || '|') > 0
                   THEN [a[1], a[2] || x[1], a[3]]
                 ELSE [a[1] || (a[2] || x[1]) || '|', '',
                       CAST(CAST(a[3] AS BIGINT) + 1 AS VARCHAR)]
               END) AS st
      FROM seq),
    fin AS (
      SELECT n,
             CAST(st[3] AS BIGINT)
             + CASE WHEN st[2] <> '' THEN 1 ELSE 0 END AS c
      FROM parse)
    SELECT CAST(n AS BIGINT) AS n_bits,
           CAST(c AS BIGINT) AS lz78_phrases,
           ROUND(CAST(c AS DOUBLE) * LN(CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE)
                    * CAST(0.6931471805599453 AS DOUBLE)), 6)
             AS normalized_complexity
    FROM fin
    """,
)
def lempel_ziv_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lempel-Ziv (LZ78) complexity of the daily revenue up/down bit
    sequence: parse the sequence into distinct incremental phrases and
    count them — the model-free randomness/compressibility measure
    (random sequences approach n/log2(n) phrases; periodic or trending
    ones collapse to far fewer), complementing the runs test and
    entropy-rate queries with an algorithmic-information view. The
    parse is a single character fold carrying [dictionary, phrase,
    count] as strings with '|' delimiters (pure string/integer state —
    no float portability surface); normalized complexity is
    c*ln(n)/(n*ln2) with ln(2) pinned. The bit sequence is
    calendar-bounded, so the fold never scales with the fact table."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("r"))
    )
    w = Window.orderBy("day")
    bits = daily.select(
        "day",
        F.when(F.col("r") > F.lag("r").over(w), "1")
        .otherwise("0")
        .alias("b"),
        F.lag("r").over(w).alias("pr"),
    ).filter(F.col("pr").isNotNull())
    seq = bits.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, b))), s -> s.b)"
        ).alias("bs")
    )
    state = "named_struct('d', '|', 'ph', '', 'c', CAST(0 AS BIGINT))"
    step = (
        "(a, ch) -> CASE "
        "WHEN instr(a.d, concat('|', concat(a.ph, ch), '|')) > 0 THEN "
        "named_struct('d', a.d, 'ph', concat(a.ph, ch), 'c', a.c) "
        "ELSE named_struct("
        "'d', concat(a.d, concat(a.ph, ch), '|'), 'ph', '', "
        "'c', a.c + 1) END"
    )
    parse = seq.select(
        F.expr("size(bs)").alias("n"),
        F.expr(f"aggregate(bs, {state}, {step})").alias("st"),
    )
    return parse.selectExpr(
        "CAST(n AS BIGINT) AS n_bits",
        "CAST(st.c + CASE WHEN st.ph <> '' THEN 1 ELSE 0 END AS BIGINT)"
        " AS lz78_phrases",
        "ROUND(CAST(st.c + CASE WHEN st.ph <> '' THEN 1 ELSE 0 END"
        " AS DOUBLE) * LN(CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE)"
        " * CAST(0.6931471805599453 AS DOUBLE)), 6)"
        " AS normalized_complexity",
    )


@register(
    "pollaczek_khinchine_mg1",
    oracle="""
    WITH mom AS (
      SELECT COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 4) AS DOUBLE)
               AS s1,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))
                            * CAST(value AS DECIMAL(12,4))), 2)
                  AS DOUBLE) AS s2
      FROM events),
    svc AS (
      SELECT n, s1 / CAST(n AS DOUBLE) AS es,
             s2 / CAST(n AS DOUBLE) AS es2
      FROM mom),
    scv AS (
      SELECT n, es, es2,
             (es2 - es * es) / (es * es) AS cv2
      FROM svc)
    SELECT CAST(n AS BIGINT) AS n_services,
           ROUND(es, 6) AS mean_service,
           ROUND(cv2, 6) AS service_scv,
           ROUND((CAST(1 AS DOUBLE) + cv2) / CAST(2 AS DOUBLE), 6)
             AS wait_vs_mm1_ratio,
           ROUND(CAST(0.5 AS DOUBLE) * es2
                 / ((CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))
                    * CAST(2 AS DOUBLE) * es), 6) AS wq_rho_50,
           ROUND(CAST(0.8 AS DOUBLE) * es2
                 / ((CAST(1 AS DOUBLE) - CAST(0.8 AS DOUBLE))
                    * CAST(2 AS DOUBLE) * es), 6) AS wq_rho_80,
           ROUND(CAST(0.9 AS DOUBLE) * es2
                 / ((CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))
                    * CAST(2 AS DOUBLE) * es), 6) AS wq_rho_90
    FROM scv
    """,
)
def pollaczek_khinchine_mg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pollaczek-Khinchine mean-wait formula for an M/G/1 queue whose
    service-time distribution is the EMPIRICAL event-value
    distribution: W_q = rho*E[S^2] / (2(1-rho)E[S]) evaluated at 50/80/
    90% utilization, plus the squared coefficient of variation and the
    (1+CV^2)/2 ratio that says how much worse this service law is than
    exponential — the variance-is-the-enemy lesson of queueing, from
    two exact decimal moments. Completes the queueing trio with the
    registered Erlang-B (loss) and Lindley (replay) queries: PK is the
    closed-form delay model. One hash-agg; constant algebra after."""
    v = F.col("value").cast("decimal(12,4)")
    mom = _t(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(v), 4).cast("double").alias("s1"),
        F.round(F.sum(v * v), 2).cast("double").alias("s2"),
    )
    svc = mom.selectExpr(
        "n",
        "s1 / CAST(n AS DOUBLE) AS es",
        "s2 / CAST(n AS DOUBLE) AS es2",
    )
    scv = svc.selectExpr(
        "n", "es", "es2", "(es2 - es * es) / (es * es) AS cv2"
    )
    wq = lambda rho: (  # noqa: E731
        f"ROUND(CAST({rho} AS DOUBLE) * es2"
        f" / ((CAST(1 AS DOUBLE) - CAST({rho} AS DOUBLE))"
        f" * CAST(2 AS DOUBLE) * es), 6)"
    )
    return scv.selectExpr(
        "CAST(n AS BIGINT) AS n_services",
        "ROUND(es, 6) AS mean_service",
        "ROUND(cv2, 6) AS service_scv",
        "ROUND((CAST(1 AS DOUBLE) + cv2) / CAST(2 AS DOUBLE), 6)"
        " AS wait_vs_mm1_ratio",
        f"{wq('0.5')} AS wq_rho_50",
        f"{wq('0.8')} AS wq_rho_80",
        f"{wq('0.9')} AS wq_rho_90",
    )


@register(
    "xyz_demand_variability",
    oracle="""
    WITH dem AS (
      SELECT l.l_partkey AS pk,
             date_trunc('month', CAST(l.l_shipdate AS DATE)) AS m,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2),
    per_part AS (
      SELECT pk, SUM(q) AS tq, SUM(q * q) AS tq2, COUNT(*) AS act
      FROM dem GROUP BY pk),
    cv AS (
      SELECT pk, tq,
             SQRT((CAST(tq2 AS DOUBLE)
                   - CAST(tq AS DOUBLE) * CAST(tq AS DOUBLE)
                     / CAST(24 AS DOUBLE)) / CAST(24 AS DOUBLE))
             / (CAST(tq AS DOUBLE) / CAST(24 AS DOUBLE)) AS cv
      FROM per_part),
    classed AS (
      SELECT CASE WHEN cv < CAST(1.0 AS DOUBLE) THEN 'X'
                  WHEN cv < CAST(2.0 AS DOUBLE) THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             tq
      FROM cv),
    tot AS (SELECT SUM(tq) AS td FROM classed)
    SELECT c.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(c.tq) AS BIGINT) AS total_demand,
           ROUND(CAST(SUM(c.tq) AS DOUBLE) / CAST(t.td AS DOUBLE), 6)
             AS demand_share
    FROM classed c, tot t
    GROUP BY c.xyz_class, t.td
    ORDER BY c.xyz_class
    """,
)
def xyz_demand_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ inventory classification by demand variability: each part's
    monthly shipped quantity over the fixed 1995-96 horizon (months
    with no demand count as real zeros via the fixed n=24 denominator)
    gets a coefficient of variation, and parts fall into X (steady,
    CV<1), Y (variable, CV<2), Z (erratic) — the planning-policy
    partner of the registered ABC value analysis (ABC says what's
    valuable; XYZ says what's forecastable; the cross matters). CV
    comes from exact integer quantity moments per part — no float sums
    over rows anywhere — and the class report aggregates counts and
    integer demand shares. One fact hash-agg + one part-level agg."""
    li = _t(spark, sf_dir, "lineitem")
    dem = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= "1995-01-01")
            & (F.col("l_shipdate").cast("date") < "1997-01-01")
        )
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias("m"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    per_part = dem.groupBy("pk").agg(
        F.sum("q").alias("tq"), F.sum(F.col("q") * F.col("q")).alias("tq2")
    )
    cv = per_part.selectExpr(
        "pk",
        "tq",
        "SQRT((CAST(tq2 AS DOUBLE) - CAST(tq AS DOUBLE) * CAST(tq AS DOUBLE)"
        " / CAST(24 AS DOUBLE)) / CAST(24 AS DOUBLE))"
        " / (CAST(tq AS DOUBLE) / CAST(24 AS DOUBLE)) AS cv",
    )
    classed = cv.selectExpr(
        "CASE WHEN cv < CAST(1.0 AS DOUBLE) THEN 'X'"
        " WHEN cv < CAST(2.0 AS DOUBLE) THEN 'Y' ELSE 'Z' END AS xyz_class",
        "tq",
    )
    tot = classed.agg(F.sum("tq").alias("td"))
    return (
        classed.crossJoin(F.broadcast(tot))
        .groupBy("xyz_class", "td")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("tq").cast("bigint").alias("total_demand"),
        )
        .select(
            "xyz_class",
            "n_parts",
            "total_demand",
            F.round(
                F.col("total_demand").cast("double")
                / F.col("td").cast("double"),
                6,
            ).alias("demand_share"),
        )
        .orderBy("xyz_class")
    )


@register(
    "cronbach_alpha_daily",
    oracle="""
    WITH grid AS (
      SELECT CAST(u.k AS INT) AS k
      FROM (SELECT UNNEST(range(0, 30)) AS k) u),
    cnt AS (
      SELECT event_type,
             DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS k,
             COUNT(*) AS c
      FROM events
      WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
        AND CAST(ts AS DATE) < DATE '2024-01-31'
      GROUP BY 1, 2),
    types AS (SELECT DISTINCT event_type FROM events),
    dense AS (
      SELECT t.event_type, g.k, COALESCE(cnt.c, 0) AS c
      FROM types t CROSS JOIN grid g
      LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.k = g.k),
    item_var AS (
      SELECT event_type,
             (CAST(SUM(c * c) AS DOUBLE)
              - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)
                / CAST(30 AS DOUBLE)) / CAST(29 AS DOUBLE) AS v
      FROM dense GROUP BY event_type),
    tot_var AS (
      SELECT (CAST(SUM(s * s) AS DOUBLE)
              - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
                / CAST(30 AS DOUBLE)) / CAST(29 AS DOUBLE) AS vt
      FROM (SELECT k, SUM(c) AS s FROM dense GROUP BY k)),
    parts AS (
      SELECT (SELECT COUNT(*) FROM types) AS kk,
             (SELECT list_reduce(list(v ORDER BY event_type),
                                 (a, b) -> a + b) FROM item_var) AS sv,
             (SELECT vt FROM tot_var) AS vt)
    SELECT CAST(kk AS INT) AS n_items,
           30 AS n_days,
           ROUND(sv, 4) AS sum_item_variances,
           ROUND(vt, 4) AS total_variance,
           ROUND((CAST(kk AS DOUBLE) / CAST(kk - 1 AS DOUBLE))
                 * (CAST(1 AS DOUBLE) - sv / vt), 6) AS cronbach_alpha
    FROM parts
    """,
)
def cronbach_alpha_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient treating the
    five event types as scale "items" and the 30 days of the event
    window (Jan 2024) as "subjects": alpha = k/(k-1) * (1 - sum(item
    variances)/variance of totals) — high alpha means the event
    streams move together day-to-day (one underlying activity factor),
    the reliability statistic behind every survey scale, reused as a
    factor-coherence diagnostic on traffic. The item x day matrix is
    DENSE (missing cells are true zero counts), variances come from
    exact integer moments with the fixed n=30, and the 5-item variance
    sum folds in type order. Two hash-aggs; constant-size algebra."""
    ev = _t(spark, sf_dir, "events")
    in_range = (F.col("ts").cast("date") >= "2024-01-01") & (
        F.col("ts").cast("date") < "2024-01-31"
    )
    cnt = (
        ev.filter(in_range)
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    types = ev.select("event_type").distinct()
    grid = spark.range(0, 30).select(F.col("id").cast("int").alias("k"))
    dense = (
        types.crossJoin(F.broadcast(grid))
        .join(cnt, ["event_type", "k"], "left")
        .select("event_type", "k", F.coalesce("c", F.lit(0)).alias("c"))
    )
    item_var = dense.groupBy("event_type").agg(
        F.expr(
            "(CAST(SUM(c * c) AS DOUBLE)"
            " - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)"
            " / CAST(30 AS DOUBLE)) / CAST(29 AS DOUBLE)"
        ).alias("v")
    )
    tot_var = (
        dense.groupBy("k")
        .agg(F.sum("c").alias("s"))
        .agg(
            F.expr(
                "(CAST(SUM(s * s) AS DOUBLE)"
                " - CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)"
                " / CAST(30 AS DOUBLE)) / CAST(29 AS DOUBLE)"
            ).alias("vt")
        )
    )
    sv = item_var.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(event_type, v))), r -> r.v), CAST(0 AS DOUBLE), "
            "(a, b) -> a + b)"
        ).alias("sv"),
        F.count(F.lit(1)).alias("kk"),
    )
    return sv.crossJoin(F.broadcast(tot_var)).selectExpr(
        "CAST(kk AS INT) AS n_items",
        "30 AS n_days",
        "ROUND(sv, 4) AS sum_item_variances",
        "ROUND(vt, 4) AS total_variance",
        "ROUND((CAST(kk AS DOUBLE) / CAST(kk - 1 AS DOUBLE))"
        " * (CAST(1 AS DOUBLE) - sv / vt), 6) AS cronbach_alpha",
    )


@register(
    "price_elasticity_loglog",
    oracle="""
    WITH per_brand AS (
      SELECT p.p_brand AS brand,
             SUM(CAST(l.l_quantity AS BIGINT)) AS tq,
             CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS tp
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand),
    pts AS (
      SELECT brand,
             LN(tp / CAST(tq AS DOUBLE)) AS lx,
             LN(CAST(tq AS DOUBLE)) AS ly
      FROM per_brand),
    fit AS (
      SELECT COUNT(*) AS k,
             list_reduce(list(lx ORDER BY brand), (a, b) -> a + b) AS sx,
             list_reduce(list(ly ORDER BY brand), (a, b) -> a + b) AS sy,
             list_reduce(list(lx * lx ORDER BY brand), (a, b) -> a + b)
               AS sxx,
             list_reduce(list(lx * ly ORDER BY brand), (a, b) -> a + b)
               AS sxy,
             list_reduce(list(ly * ly ORDER BY brand), (a, b) -> a + b)
               AS syy
      FROM pts)
    SELECT CAST(k AS INT) AS n_brands,
           ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)
                 / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
             AS price_elasticity,
           ROUND((sy - ((CAST(k AS DOUBLE) * sxy - sx * sy)
                        / (CAST(k AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(k AS DOUBLE), 4) AS log_intercept,
           ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)
                 * (CAST(k AS DOUBLE) * sxy - sx * sy)
                 / ((CAST(k AS DOUBLE) * sxx - sx * sx)
                    * (CAST(k AS DOUBLE) * syy - sy * sy)), 6)
             AS r_squared
    FROM fit
    """,
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-brand price elasticity of demand by the log-log
    regression economists actually run: each brand contributes one
    point (ln average unit price, ln total quantity sold), and the OLS
    slope IS the elasticity (%-quantity per %-price). Unit prices come
    from exact decimal revenue over exact integer quantities; the
    ~25-point OLS moments fold in brand order so every double is
    sequence-pinned. Negative slope = downward demand curve; r^2 says
    whether a constant-elasticity law fits the assortment at all.
    One join + hash-agg to brand level, then constant-size algebra."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_brand = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("tq"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC)), 2)
            .cast("double")
            .alias("tp"),
        )
    )
    pts = per_brand.selectExpr(
        "brand",
        "LN(tp / CAST(tq AS DOUBLE)) AS lx",
        "LN(CAST(tq AS DOUBLE)) AS ly",
    )
    fold = lambda body: F.expr(  # noqa: E731
        f"aggregate(transform(g, r -> {body}), CAST(0 AS DOUBLE), "
        "(a, b) -> a + b)"
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sort_array(F.collect_list(F.struct("brand", "lx", "ly"))).alias(
            "g"
        ),
    ).select(
        "k",
        fold("r.lx").alias("sx"),
        fold("r.ly").alias("sy"),
        fold("r.lx * r.lx").alias("sxx"),
        fold("r.lx * r.ly").alias("sxy"),
        fold("r.ly * r.ly").alias("syy"),
    )
    return fit.selectExpr(
        "CAST(k AS INT) AS n_brands",
        "ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS price_elasticity",
        "ROUND((sy - ((CAST(k AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(k AS DOUBLE) * sxx - sx * sx)) * sx)"
        " / CAST(k AS DOUBLE), 4) AS log_intercept",
        "ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)"
        " * (CAST(k AS DOUBLE) * sxy - sx * sy)"
        " / ((CAST(k AS DOUBLE) * sxx - sx * sx)"
        " * (CAST(k AS DOUBLE) * syy - sy * sy)), 6) AS r_squared",
    )


@register(
    "ewma_volatility_riskmetrics",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS r
      FROM orders GROUP BY 1),
    ret AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i,
             LN(r / LAG(r) OVER (ORDER BY day)) AS x
      FROM daily QUALIFY x IS NOT NULL),
    ew(i, v, vmax) AS (
      SELECT 1, x * x, x * x FROM ret WHERE i = 1
      UNION ALL
      SELECT t.i,
             CAST(0.94 AS DOUBLE) * e.v
               + CAST(0.06 AS DOUBLE) * (t.x * t.x),
             GREATEST(e.vmax,
               CAST(0.94 AS DOUBLE) * e.v
               + CAST(0.06 AS DOUBLE) * (t.x * t.x))
      FROM ew e JOIN ret t ON t.i = e.i + 1)
    SELECT CAST(i AS BIGINT) AS n_returns,
           ROUND(SQRT(v), 6) AS ewma_vol_daily,
           ROUND(SQRT(v * CAST(252 AS DOUBLE)), 6) AS ewma_vol_annualized,
           ROUND(SQRT(vmax), 6) AS peak_vol_daily
    FROM ew ORDER BY i DESC LIMIT 1
    """,
)
def ewma_volatility_riskmetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility (lambda = 0.94) of the daily
    log-revenue-change series: v_t = 0.94 v_{t-1} + 0.06 r_t^2 seeded
    at the first squared return — the industry-standard reactive
    volatility estimate that the registered Kupiec VaR backtest
    presumes, with the peak (stress) level tracked inside the same
    fold. Daily revenues are exact decimals so each log-return is a
    deterministic double; the recursion is a day-ordered fold mirrored
    by the oracle's recursive CTE. Reports daily and sqrt(252)-
    annualized vol plus the in-sample peak."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("r")
        )
    )
    w = Window.orderBy("day")
    ret = daily.select(
        "day", F.log(F.col("r") / F.lag("r").over(w)).alias("x")
    ).filter(F.col("x").isNotNull())
    arr = ret.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, x))), s -> s.x)"
        ).alias("xs")
    )
    vnew = (
        "(CAST(0.94 AS DOUBLE) * acc.v + CAST(0.06 AS DOUBLE) * (x * x))"
    )
    state = (
        "named_struct('i', CAST(1 AS BIGINT), "
        "'v', element_at(xs, 1) * element_at(xs, 1), "
        "'vmax', element_at(xs, 1) * element_at(xs, 1))"
    )
    step = (
        "(acc, x) -> named_struct('i', acc.i + 1, "
        f"'v', {vnew}, 'vmax', GREATEST(acc.vmax, {vnew}))"
    )
    return arr.select(
        F.expr(f"aggregate(slice(xs, 2, size(xs) - 1), {state}, {step})")
        .alias("e")
    ).selectExpr(
        "CAST(e.i AS BIGINT) AS n_returns",
        "ROUND(SQRT(e.v), 6) AS ewma_vol_daily",
        "ROUND(SQRT(e.v * CAST(252 AS DOUBLE)), 6)"
        " AS ewma_vol_annualized",
        "ROUND(SQRT(e.vmax), 6) AS peak_vol_daily",
    )


@register(
    "expected_shortfall_cvar",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY 1),
    chg AS (
      SELECT day, CAST(r - LAG(r) OVER (ORDER BY day) AS DECIMAL(18,2))
               AS delta
      FROM daily QUALIFY delta IS NOT NULL),
    ranked AS (
      SELECT day, delta,
             ROW_NUMBER() OVER (ORDER BY delta, day) AS rk,
             COUNT(*) OVER () AS n
      FROM chg),
    k AS (SELECT n, CAST(FLOOR(CAST(n AS DOUBLE)
                              * CAST(0.05 AS DOUBLE)) AS BIGINT) AS k
          FROM ranked LIMIT 1),
    tail AS (
      SELECT k.n, k.k,
             CAST(ROUND(SUM(r.delta), 2) AS DOUBLE) AS tail_sum,
             CAST(MAX(r.delta) AS DOUBLE) AS var95
      FROM ranked r, k WHERE r.rk <= k.k GROUP BY k.n, k.k)
    SELECT CAST(n AS BIGINT) AS n_changes,
           CAST(k AS BIGINT) AS tail_days,
           ROUND(CAST(0 AS DOUBLE) - var95, 2) AS var_95,
           ROUND(CAST(0 AS DOUBLE) - tail_sum / CAST(k AS DOUBLE), 2)
             AS cvar_95,
           ROUND((tail_sum / CAST(k AS DOUBLE)) / var95, 6)
             AS cvar_var_ratio
    FROM tail
    """,
)
def expected_shortfall_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) at 95% on day-over-day revenue
    changes: VaR95 is the floor(0.05n)-th worst daily move, CVaR95 the
    exact-decimal MEAN of all moves at or beyond it — the coherent
    risk measure Basel moved to precisely because VaR ignores how bad
    the tail is once you're in it (their ratio quantifies that tail
    heaviness). The tail is selected by (delta, day) row_number so
    ties are deterministic, and the tail sum stays decimal until the
    final division. One window pass + one top-k filter at any scale.
    Signs are flipped so both report as positive losses."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("r"))
    )
    w = Window.orderBy("day")
    chg = daily.select(
        "day",
        (F.col("r") - F.lag("r").over(w)).cast(_DEC).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    ranked = chg.select(
        "day",
        "delta",
        F.row_number().over(Window.orderBy("delta", "day")).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    tail = (
        ranked.filter(
            F.col("rk")
            <= F.expr(
                "CAST(FLOOR(CAST(n AS DOUBLE) * CAST(0.05 AS DOUBLE))"
                " AS BIGINT)"
            )
        )
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.round(F.sum("delta"), 2).cast("double").alias("tail_sum"),
            F.max("delta").cast("double").alias("var95"),
        )
    )
    return tail.selectExpr(
        "CAST(n AS BIGINT) AS n_changes",
        "CAST(k AS BIGINT) AS tail_days",
        "ROUND(CAST(0 AS DOUBLE) - var95, 2) AS var_95",
        "ROUND(CAST(0 AS DOUBLE) - tail_sum / CAST(k AS DOUBLE), 2)"
        " AS cvar_95",
        "ROUND((tail_sum / CAST(k AS DOUBLE)) / var95, 6)"
        " AS cvar_var_ratio",
    )


@register(
    "empirical_tail_dependence",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(FLOOR(l_extendedprice / CAST(1000 AS DOUBLE)) AS BIGINT)
               AS pb
      FROM lineitem),
    n AS (SELECT COUNT(*) AS n FROM pts),
    qthr AS (
      SELECT MIN(q) AS thr FROM (
        SELECT q, SUM(COUNT(*)) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               MAX(n.n) AS nn
        FROM pts, n GROUP BY q, n.n)
      WHERE cum > CAST(FLOOR(CAST(nn AS DOUBLE) * CAST(0.9 AS DOUBLE))
                       AS BIGINT)),
    pthr AS (
      SELECT MIN(pb) AS thr FROM (
        SELECT pb, SUM(COUNT(*)) OVER (ORDER BY pb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               MAX(n.n) AS nn
        FROM pts, n GROUP BY pb, n.n)
      WHERE cum > CAST(FLOOR(CAST(nn AS DOUBLE) * CAST(0.9 AS DOUBLE))
                       AS BIGINT)),
    counts AS (
      SELECT n.n,
             SUM(CASE WHEN pts.q >= qthr.thr THEN 1 ELSE 0 END) AS mq,
             SUM(CASE WHEN pts.pb >= pthr.thr THEN 1 ELSE 0 END) AS mp,
             SUM(CASE WHEN pts.q >= qthr.thr AND pts.pb >= pthr.thr
                      THEN 1 ELSE 0 END) AS mj
      FROM pts, n, qthr, pthr GROUP BY n.n)
    SELECT CAST(n AS BIGINT) AS n_lines,
           ROUND(CAST(mq AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS top_quantity_share,
           ROUND(CAST(mp AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS top_price_share,
           ROUND(CAST(mj AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS joint_tail_share,
           ROUND((CAST(mj AS DOUBLE) / CAST(n AS DOUBLE))
                 / ((CAST(mq AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(mp AS DOUBLE) / CAST(n AS DOUBLE))), 4)
             AS tail_dependence_lift
    FROM counts
    """,
)
def empirical_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence between line quantity and
    extended price: take each margin's top decile (thresholds from
    integer cumulative histograms — quantity is discrete, price is
    $1000-bucketed, so the cut is exact and tie-stable) and compare the
    JOINT tail mass to the independence product — lift >> 1 means
    extremes co-occur, the copula-level diagnostic that Pearson
    correlation famously misses (it's driven by the middle of the
    distribution). Every number is an integer count until the final
    ratios; two histogram windows + one counting pass, all
    histogram-sized after the scan."""
    pts = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr(
            "CAST(FLOOR(l_extendedprice / CAST(1000 AS DOUBLE)) AS BIGINT)"
        ).alias("pb"),
    )
    n = pts.agg(F.count(F.lit(1)).alias("n"))

    def thr(col):
        hist = pts.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        wc = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(col, F.sum("c").over(wc).alias("cum"))
        return (
            cum.crossJoin(F.broadcast(n))
            .filter(
                F.col("cum")
                > F.expr(
                    "CAST(FLOOR(CAST(n AS DOUBLE) * CAST(0.9 AS DOUBLE))"
                    " AS BIGINT)"
                )
            )
            .agg(F.min(col).alias(f"{col}_thr"))
        )

    counts = (
        pts.crossJoin(F.broadcast(thr("q")))
        .crossJoin(F.broadcast(thr("pb")))
        .crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.sum(
                F.when(F.col("q") >= F.col("q_thr"), 1).otherwise(0)
            ).alias("mq"),
            F.sum(
                F.when(F.col("pb") >= F.col("pb_thr"), 1).otherwise(0)
            ).alias("mp"),
            F.sum(
                F.when(
                    (F.col("q") >= F.col("q_thr"))
                    & (F.col("pb") >= F.col("pb_thr")),
                    1,
                ).otherwise(0)
            ).alias("mj"),
        )
    )
    return counts.selectExpr(
        "CAST(n AS BIGINT) AS n_lines",
        "ROUND(CAST(mq AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS top_quantity_share",
        "ROUND(CAST(mp AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS top_price_share",
        "ROUND(CAST(mj AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS joint_tail_share",
        "ROUND((CAST(mj AS DOUBLE) / CAST(n AS DOUBLE))"
        " / ((CAST(mq AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(mp AS DOUBLE) / CAST(n AS DOUBLE))), 4)"
        " AS tail_dependence_lift",
    )


@register(
    "arch_effect_lm_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS r
      FROM orders GROUP BY 1),
    ret AS (
      SELECT day, LN(r / LAG(r) OVER (ORDER BY day)) AS x
      FROM daily QUALIFY x IS NOT NULL),
    packed AS (
      SELECT list(x ORDER BY day) AS xs, COUNT(*) AS n FROM ret),
    mean AS (
      SELECT xs, n,
             list_reduce(xs, (a, b) -> a + b) / CAST(n AS DOUBLE) AS mu
      FROM packed),
    sq AS (
      SELECT n, list_transform(xs, x -> (x - mu) * (x - mu)) AS es
      FROM mean),
    mom AS (
      SELECT n - 1 AS m,
             list_reduce(es[2:], (a, b) -> a + b) AS sy,
             list_reduce(es[:len(es) - 1], (a, b) -> a + b) AS sx,
             list_reduce(list_transform(range(2, len(es) + 1),
               i -> es[CAST(i AS INT)] * es[CAST(i AS INT) - 1]),
               (a, b) -> a + b) AS sxy,
             list_reduce(list_transform(es[:len(es) - 1], e -> e * e),
               (a, b) -> a + b) AS sxx,
             list_reduce(list_transform(es[2:], e -> e * e),
               (a, b) -> a + b) AS syy
      FROM sq),
    fit AS (
      SELECT m,
             (CAST(m AS DOUBLE) * sxy - sx * sy)
             * (CAST(m AS DOUBLE) * sxy - sx * sy)
             / ((CAST(m AS DOUBLE) * sxx - sx * sx)
                * (CAST(m AS DOUBLE) * syy - sy * sy)) AS r2,
             (CAST(m AS DOUBLE) * sxy - sx * sy)
             / (CAST(m AS DOUBLE) * sxx - sx * sx) AS b1
      FROM mom)
    SELECT CAST(m AS BIGINT) AS n_pairs,
           ROUND(b1, 6) AS arch_slope,
           ROUND(r2, 6) AS r_squared,
           ROUND(CAST(m AS DOUBLE) * r2, 4) AS lm_statistic
    FROM fit
    """,
)
def arch_effect_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test on daily log-revenue returns: regress each
    day's squared (demeaned) return on yesterday's — a significant
    slope means volatility clusters, i.e. the constant-variance
    assumption behind plain OLS/z-scores on this series is wrong and
    the EWMA/GARCH family (see ewma_volatility_riskmetrics) is
    warranted. LM = n*R^2 is chi-square(1) under homoskedasticity.
    Every sum folds over the day-ordered return array (the mean, the
    squared deviations, and the five lag-1 OLS moments), so all double
    arithmetic is sequence-pinned in both engines; the daily base is
    one exact-decimal hash-agg."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("r")
        )
    )
    w = Window.orderBy("day")
    ret = daily.select(
        "day", F.log(F.col("r") / F.lag("r").over(w)).alias("x")
    ).filter(F.col("x").isNotNull())
    packed = ret.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, x))), s -> s.x)"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = packed.select(
        "xs",
        "n",
        F.expr(
            "aggregate(xs, CAST(0 AS DOUBLE), (a, b) -> a + b)"
            " / CAST(n AS DOUBLE)"
        ).alias("mu"),
    )
    sq = mean.select(
        "n", F.expr("transform(xs, x -> (x - mu) * (x - mu))").alias("es")
    )
    fold = lambda arr: (  # noqa: E731
        f"aggregate({arr}, CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    mom = sq.select(
        (F.col("n") - 1).alias("m"),
        F.expr(fold("slice(es, 2, size(es) - 1)")).alias("sy"),
        F.expr(fold("slice(es, 1, size(es) - 1)")).alias("sx"),
        F.expr(
            fold(
                "transform(sequence(2, size(es)), "
                "i -> element_at(es, CAST(i AS INT))"
                " * element_at(es, CAST(i AS INT) - 1))"
            )
        ).alias("sxy"),
        F.expr(
            fold("transform(slice(es, 1, size(es) - 1), e -> e * e)")
        ).alias("sxx"),
        F.expr(
            fold("transform(slice(es, 2, size(es) - 1), e -> e * e)")
        ).alias("syy"),
    )
    fit = mom.selectExpr(
        "m",
        "(CAST(m AS DOUBLE) * sxy - sx * sy)"
        " * (CAST(m AS DOUBLE) * sxy - sx * sy)"
        " / ((CAST(m AS DOUBLE) * sxx - sx * sx)"
        " * (CAST(m AS DOUBLE) * syy - sy * sy)) AS r2",
        "(CAST(m AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(m AS DOUBLE) * sxx - sx * sx) AS b1",
    )
    return fit.selectExpr(
        "CAST(m AS BIGINT) AS n_pairs",
        "ROUND(b1, 6) AS arch_slope",
        "ROUND(r2, 6) AS r_squared",
        "ROUND(CAST(m AS DOUBLE) * r2, 4) AS lm_statistic",
    )


@register(
    "western_electric_rules",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2))
                  * CAST(0.001 AS DECIMAL(4,3)) AS DECIMAL(12,5)) AS y
      FROM daily_src GROUP BY 1),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(ROUND(SUM(y), 5) AS DOUBLE) AS s,
             CAST(ROUND(SUM(CAST(y * y AS DECIMAL(30,10))), 2) AS DOUBLE)
               AS q
      FROM daily),
    z AS (
      SELECT day,
             (CAST(y AS DOUBLE) - mom.s / CAST(mom.n AS DOUBLE))
             / SQRT(mom.q / CAST(mom.n AS DOUBLE)
                    - (mom.s / CAST(mom.n AS DOUBLE))
                      * (mom.s / CAST(mom.n AS DOUBLE))) AS z,
             mom.n,
             SQRT(mom.q / CAST(mom.n AS DOUBLE)
                  - (mom.s / CAST(mom.n AS DOUBLE))
                    * (mom.s / CAST(mom.n AS DOUBLE))) AS sig
      FROM daily, mom),
    flags AS (
      SELECT day, n, sig,
             ROW_NUMBER() OVER (ORDER BY day) AS i,
             CASE WHEN ABS(z) > CAST(3 AS DOUBLE) THEN 1 ELSE 0 END AS r1,
             CASE WHEN SUM(CASE WHEN z > CAST(2 AS DOUBLE)
                          THEN 1 ELSE 0 END) OVER w3 >= 2
                       OR SUM(CASE WHEN z < CAST(-2 AS DOUBLE)
                              THEN 1 ELSE 0 END) OVER w3 >= 2
                  THEN 1 ELSE 0 END AS r2,
             CASE WHEN SUM(CASE WHEN z > CAST(1 AS DOUBLE)
                          THEN 1 ELSE 0 END) OVER w5 >= 4
                       OR SUM(CASE WHEN z < CAST(-1 AS DOUBLE)
                              THEN 1 ELSE 0 END) OVER w5 >= 4
                  THEN 1 ELSE 0 END AS r3,
             CASE WHEN SUM(CASE WHEN z > CAST(0 AS DOUBLE)
                          THEN 1 ELSE 0 END) OVER w8 IN (0, 8)
                  THEN 1 ELSE 0 END AS r4
      FROM z
      WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING
                    AND CURRENT ROW),
             w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING
                    AND CURRENT ROW),
             w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                    AND CURRENT ROW)),
    gated AS (
      SELECT day, n, sig, r1,
             CASE WHEN i >= 3 THEN r2 ELSE 0 END AS r2,
             CASE WHEN i >= 5 THEN r3 ELSE 0 END AS r3,
             CASE WHEN i >= 8 THEN r4 ELSE 0 END AS r4
      FROM flags)
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           ROUND(MAX(sig), 4) AS sigma_thousands,
           CAST(SUM(r1) AS BIGINT) AS rule1_beyond_3sigma,
           CAST(SUM(r2) AS BIGINT) AS rule2_2of3_beyond_2sigma,
           CAST(SUM(r3) AS BIGINT) AS rule3_4of5_beyond_1sigma,
           CAST(SUM(r4) AS BIGINT) AS rule4_8_same_side,
           MIN(CASE WHEN r1 + r2 + r3 + r4 > 0 THEN day END)
             AS first_violation_day
    FROM gated
    """.replace("daily_src", "orders"),
)
def western_electric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules on the daily revenue
    series (revenue in exact-decimal thousands, z-scored against the
    whole-period mean and sigma): Rule 1 (point beyond 3-sigma),
    Rule 2 (2 of 3 consecutive beyond 2-sigma, same side), Rule 3
    (4 of 5 beyond 1-sigma, same side), Rule 4 (8 consecutive on one
    side) — the classic sensitizing patterns that catch drifts and
    shifts a lone 3-sigma limit misses, each implemented as a small
    sliding count window gated to full windows only. Moments are exact
    decimals (squared prefix rounded before the double cast); every z
    comparison is deterministic double arithmetic. One hash-agg + four
    fixed-width windows, day-count-sized."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
                " AS DECIMAL(18,2)) * CAST(0.001 AS DECIMAL(4,3))"
                " AS DECIMAL(12,5))"
            ).alias("y")
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("y"), 5).cast("double").alias("s"),
        F.round(
            F.sum(F.expr("CAST(y * y AS DECIMAL(30,10))")), 2
        )
        .cast("double")
        .alias("q"),
    )
    z = daily.crossJoin(F.broadcast(mom)).selectExpr(
        "day",
        "(CAST(y AS DOUBLE) - s / CAST(n AS DOUBLE))"
        " / SQRT(q / CAST(n AS DOUBLE)"
        " - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))) AS z",
        "n",
        "SQRT(q / CAST(n AS DOUBLE)"
        " - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))) AS sig",
    )
    w3 = Window.orderBy("day").rowsBetween(-2, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w8 = Window.orderBy("day").rowsBetween(-7, 0)
    cnt = lambda cond, w: F.sum(  # noqa: E731
        F.when(cond, 1).otherwise(0)
    ).over(w)
    two = F.lit(2).cast("double")
    one = F.lit(1).cast("double")
    flags = z.select(
        "day",
        "n",
        "sig",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.when(F.abs(F.col("z")) > F.lit(3).cast("double"), 1)
        .otherwise(0)
        .alias("r1"),
        F.when(
            (cnt(F.col("z") > two, w3) >= 2)
            | (cnt(F.col("z") < -two, w3) >= 2),
            1,
        )
        .otherwise(0)
        .alias("r2"),
        F.when(
            (cnt(F.col("z") > one, w5) >= 4)
            | (cnt(F.col("z") < -one, w5) >= 4),
            1,
        )
        .otherwise(0)
        .alias("r3"),
        F.when(
            cnt(F.col("z") > F.lit(0).cast("double"), w8).isin(0, 8), 1
        )
        .otherwise(0)
        .alias("r4"),
    )
    gated = flags.select(
        "day",
        "n",
        "sig",
        "r1",
        F.when(F.col("i") >= 3, F.col("r2")).otherwise(0).alias("r2"),
        F.when(F.col("i") >= 5, F.col("r3")).otherwise(0).alias("r3"),
        F.when(F.col("i") >= 8, F.col("r4")).otherwise(0).alias("r4"),
    )
    return gated.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.round(F.max("sig"), 4).alias("sigma_thousands"),
        F.sum("r1").cast("bigint").alias("rule1_beyond_3sigma"),
        F.sum("r2").cast("bigint").alias("rule2_2of3_beyond_2sigma"),
        F.sum("r3").cast("bigint").alias("rule3_4of5_beyond_1sigma"),
        F.sum("r4").cast("bigint").alias("rule4_8_same_side"),
        F.min(
            F.when(
                F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4") > 0,
                F.col("day"),
            )
        ).alias("first_violation_day"),
    )


@register(
    "paired_sign_test",
    oracle="""
    WITH rev AS (
      SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%m') AS INT) AS m,
             CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) AS y,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2),
    grid AS (SELECT UNNEST(range(1, 13)) AS m),
    pairs AS (
      SELECT g.m,
             COALESCE(MAX(CASE WHEN rev.y = 1995 THEN rev.r END),
                      CAST(0 AS DECIMAL(18,2))) AS a,
             COALESCE(MAX(CASE WHEN rev.y = 1996 THEN rev.r END),
                      CAST(0 AS DECIMAL(18,2))) AS b
      FROM grid g LEFT JOIN rev ON rev.m = g.m
      GROUP BY g.m),
    cnt AS (
      SELECT SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS splus,
             SUM(CASE WHEN b <> a THEN 1 ELSE 0 END) AS n
      FROM pairs),
    tailp AS (
      SELECT n, splus,
             LEAST(splus, n - splus) AS mm,
             list_reduce(list_concat([[CAST(1 AS BIGINT),
                                       CAST(1 AS BIGINT),
                                       CAST(0 AS BIGINT)]],
               list_transform(range(1, CAST(LEAST(splus, n - splus)
                                             AS INT) + 1),
                 j -> [CAST(j AS BIGINT), CAST(0 AS BIGINT),
                       CAST(0 AS BIGINT)])),
               (acc, x) -> [x[1],
                            acc[2] * (n - x[1] + 1) // x[1],
                            acc[3] + acc[2] * (n - x[1] + 1) // x[1]])
               AS st
      FROM cnt)
    SELECT CAST(n AS BIGINT) AS n_informative_pairs,
           CAST(splus AS BIGINT) AS n_increases,
           ROUND(LEAST(CAST(1 AS DOUBLE),
                 CAST(2 AS DOUBLE)
                 * CAST(CAST(1 AS BIGINT) + st[3] AS DOUBLE)
                 / POWER(CAST(2 AS DOUBLE), CAST(n AS DOUBLE))), 6)
             AS p_two_sided
    FROM tailp
    """,
)
def paired_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact paired sign test of 1996-vs-1995 monthly revenue: each
    month is a pair, S+ counts year-over-year increases, and the
    two-sided p-value is the EXACT binomial tail 2*P(X <= min(S, n-S))
    under p=1/2 — computed with integer binomial coefficients built by
    the multiplicative recurrence C(n,j) = C(n,j-1)*(n-j+1)/j inside a
    fold (the recurrence stays integral at every step, so there is NO
    float surface until the final division by 2^n). Ties (equal
    months) are excluded per the classical definition. The monthly
    pairs come from exact decimal sums on a dense 12-month grid."""
    o = _t(spark, sf_dir, "orders")
    rev = (
        o.filter(
            (F.col("o_orderdate").cast("date") >= "1995-01-01")
            & (F.col("o_orderdate").cast("date") < "1997-01-01")
        )
        .groupBy(
            F.month(F.col("o_orderdate").cast("date")).alias("m"),
            F.year(F.col("o_orderdate").cast("date")).alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("r"))
    )
    grid = spark.range(1, 13).select(F.col("id").cast("int").alias("m"))
    zdec = F.lit(0).cast(_DEC)
    pairs = (
        grid.join(rev, "m", "left")
        .groupBy("m")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("y") == 1995, F.col("r"))), zdec
            ).alias("a"),
            F.coalesce(
                F.max(F.when(F.col("y") == 1996, F.col("r"))), zdec
            ).alias("b"),
        )
    )
    cnt = pairs.agg(
        F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0)).alias(
            "splus"
        ),
        F.sum(F.when(F.col("b") != F.col("a"), 1).otherwise(0)).alias("n"),
    )
    # fold j = 1..m: carry C(n,j) and its running sum via the integral
    # multiplicative recurrence; m = 0 needs a guard because Spark's
    # sequence(1, 0) DESCENDS instead of being empty.
    fold = (
        "CASE WHEN LEAST(splus, n - splus) < 1 THEN CAST(0 AS BIGINT) "
        "ELSE (aggregate("
        "sequence(1, CAST(LEAST(splus, n - splus) AS INT)), "
        "named_struct('c', CAST(1 AS BIGINT), 'sm', CAST(0 AS BIGINT)), "
        "(acc, j) -> named_struct("
        "'c', acc.c * (n - j + 1) div j, "
        "'sm', acc.sm + acc.c * (n - j + 1) div j))).sm END"
    )
    return cnt.selectExpr(
        "CAST(n AS BIGINT) AS n_informative_pairs",
        "CAST(splus AS BIGINT) AS n_increases",
        f"ROUND(LEAST(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)"
        f" * CAST(CAST(1 AS BIGINT) + ({fold}) AS DOUBLE)"
        " / POWER(CAST(2 AS DOUBLE), CAST(n AS DOUBLE))), 6)"
        " AS p_two_sided",
    )


__all__ = [
    'jenks_natural_breaks',
    'transfer_entropy_updown',
    'lempel_ziv_complexity',
    'pollaczek_khinchine_mg1',
    'xyz_demand_variability',
    'cronbach_alpha_daily',
    'price_elasticity_loglog',
    'ewma_volatility_riskmetrics',
    'expected_shortfall_cvar',
    'empirical_tail_dependence',
    'arch_effect_lm_test',
    'western_electric_rules',
    'paired_sign_test',
]
