"""stats_p1 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403
from .text import bm25_search_topk  # noqa: E402



# ---------------------------------------------------------------------------
# Additional relational coverage (round 1 widening)
# ---------------------------------------------------------------------------


@register(
    "q6_revenue_forecast",
    oracle=f"""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(l_discount AS {_DEC4})), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan + conjunctive filter + single aggregate —
    the filters all push to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_DEC4)),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


@register(
    "word_count_top20",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
          FROM documents) t
    WHERE w <> ''
    GROUP BY w ORDER BY n DESC, word LIMIT 20
    """,
)
def word_count_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic: explode → count → top-k with deterministic tiebreak."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style: EXISTS correlated on a date inequality → left-semi join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style conditional counting across a fact-fact join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q14_promo_revenue_ratio",
    oracle=f"""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})
                        ELSE CAST(0 AS DECIMAL(37,6)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4})) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style conditional-revenue ratio (broadcast part join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    promo = F.when(
        F.col("p_type").like("PROMO%"), disc
    ).otherwise(F.lit(0).cast("decimal(37,6)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume
                          ELSE CAST(0 AS DECIMAL(37,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS {_DEC}) * CAST(1 - l_discount AS {_DEC4}) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-style national market share: an 8-table snowflake where every
    dimension (part, supplier, customer, nation x2, region) broadcasts and
    only the lineitem-orders join shuffles — one shuffle total at scale."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    cust_america = (
        cust.join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region),
              (F.col("n1.n_regionkey") == region.r_regionkey)
              & (region.r_name == "AMERICA"))
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey")
    ).select("s_suppkey", F.col("n2.n_name").alias("nation"))
    vol = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC4)
    j = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_america), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("nation"),
        )
    )
    zero = F.lit(0).cast("decimal(37,6)")
    return (
        j.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume"))
                      .otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "dataset_split_hash",
    oracle="""
    SELECT split, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT n_chars,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
            FROM documents) h) s
    GROUP BY split ORDER BY split
    """,
)
def dataset_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment by md5(doc_id) bucket —
    the standard leakage-free dataset split: stable under reprocessing,
    no shuffle (a narrow projection), works identically at any scale."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "fuzzy_match_part_names",
    oracle="""
    SELECT levenshtein(a.p_name, b.p_name) AS dist, COUNT(*) AS n_pairs
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
    GROUP BY dist ORDER BY dist
    """,
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match (entity resolution): Levenshtein distance over
    same-brand part-name pairs, histogrammed by distance. Brand blocking
    keeps the pairwise join quadratic only within blocks — the standard
    trick that makes edit-distance matching feasible at scale."""
    part = _t(spark, sf_dir, "part")
    # collapse to distinct (brand, name) with multiplicities first: the
    # quadratic comparison then runs over distinct names per brand, not
    # rows, and each name-pair contributes c_a * c_b row-pairs. Distance
    # is symmetric, so ordering by name (not key) dedupes pairs; same-name
    # pairs have distance 0 and fall outside the [1, 4] band.
    g = part.groupBy(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = g.select("brand", F.col("name").alias("na"), F.col("c").alias("ca"))
    b = g.select("brand", F.col("name").alias("nb"), F.col("c").alias("cb"))
    dist = F.levenshtein("na", "nb")
    return (
        a.join(b, ["brand"])
        .filter(F.col("na") < F.col("nb"))
        .select(dist.alias("dist"), (F.col("ca") * F.col("cb")).alias("m"))
        .filter(F.col("dist").between(1, 4))
        .groupBy("dist")
        .agg(F.sum("m").cast("bigint").alias("n_pairs"))
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# Approximate sketches (SURVEY §2.8 "approx_count_distinct"; mergeable
# summaries are the only way distinct-counting survives 100 TB)
# ---------------------------------------------------------------------------


@register(
    "approx_sketches_events",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok,
           TRUE AS ds_hll_ok,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           TRUE AS p50_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_sketches_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch breadth: HyperLogLog++ (approx_count_distinct), Apache
    DataSketches HLL (hll_sketch_agg → hll_sketch_estimate, the mergeable
    cross-system format), and approx_percentile, each checked against the
    exact answer *inside the query* — the output carries a boolean
    "estimate within 5%" flag that the oracle pins to TRUE. Estimates are
    deterministic for fixed input, so the flag is hash-stable, while the
    query still fails loudly if a sketch drifts out of its error bound.
    At 100 TB the exact columns are dropped and only the sketches run:
    both are single-pass, mergeable, map-side-combinable aggregates."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("hll_est"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("ds_est"),
        F.expr("percentile(value, 0.5D)").alias("p50_exact"),
        F.expr("approx_percentile(value, 0.5D, 10000)").alias("p50_est"),
    )
    tol = F.col("exact_users") * 0.05
    return agg.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("hll_est") - F.col("exact_users")) <= tol).alias("hll_ok"),
        (F.abs(F.col("ds_est") - F.col("exact_users")) <= tol).alias("ds_hll_ok"),
        F.round("p50_exact", 6).alias("p50"),
        (
            F.abs(F.col("p50_est") - F.col("p50_exact"))
            <= F.greatest(F.abs(F.col("p50_exact")) * 0.05, F.lit(1e-9))
        ).alias("p50_ok"),
    ).orderBy("event_type")


@register(
    "histogram_order_totals",
    oracle="""
    -- DuckDB has no width_bucket; all values lie inside [0, 500000) so the
    -- PostgreSQL bucket rule reduces to floor(v / width) + 1.
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) + 1 AS bucket,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_price
    FROM orders GROUP BY 1 ORDER BY bucket
    """,
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — a pure map-side expression
    followed by an 11-group aggregate: the cheapest possible distribution
    profile of a 100 TB column (single scan, partial agg, no sort). The
    average goes through an exact decimal sum so both engines divide the
    same quantity."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "bucket",
            F.expr("width_bucket(o_totalprice, 0, 500000, 10)").cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast(_DEC)).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Co-occurrence, quantile bucket-join (the scale path of NTILE), rolling
# distinct window (SURVEY §2.8 breadth)
# ---------------------------------------------------------------------------


@register(
    "market_basket_brand_pairs",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_orders
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_orders FROM (
        SELECT brand_a, brand_b, n_orders,
               ROW_NUMBER() OVER (ORDER BY n_orders DESC, brand_a, brand_b) AS rn
        FROM pairs) t
    WHERE rn <= 20 ORDER BY n_orders DESC, brand_a, brand_b
    """,
)
def market_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 brand pairs most often bought
    in the same order. The part dimension broadcasts into the fact scan,
    (order, brand) is deduped before the self-join so the pair fanout is
    bounded by brands-per-order (≤25), and the self-join co-partitions on
    l_orderkey — the one shuffle the fact pays. Top-20 is a tie-broken
    row_number so the result set is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("brand_a", "brand_b", "n_orders")
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
    )


@register(
    "robust_stats_orders",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority, median(o_totalprice) AS med_price,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority,
           ROUND(m.med_price, 4) AS median_price,
           ROUND(m.q3 - m.q1, 4) AS iqr,
           ROUND(median(abs(o.o_totalprice - m.med_price)), 4) AS mad
    FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    GROUP BY m.o_orderpriority, m.med_price, m.q1, m.q3
    ORDER BY m.o_orderpriority
    """,
)
def robust_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion statistics per group: median, IQR, and median
    absolute deviation. MAD is inherently two-pass (the deviations need
    the group median first); the per-group medians are a tiny aggregate
    that broadcasts back onto the fact scan, so the second pass adds no
    fact shuffle beyond the final per-group percentile. Exact
    percentiles (not approx) to stay bit-equal with the oracle —
    swap in percentile_approx at 100 TB when exactness isn't required."""
    orders = _t(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5D)").alias("med_price"),
        F.expr("percentile(o_totalprice, 0.25D)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75D)").alias("q3"),
    )
    return (
        orders.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority", "med_price", "q1", "q3")
        .agg(
            F.expr("percentile(abs(o_totalprice - med_price), 0.5D)").alias("mad_raw")
        )
        .select(
            "o_orderpriority",
            F.round("med_price", 4).alias("median_price"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
            F.round("mad_raw", 4).alias("mad"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "revenue_concentration_pareto",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY 1
    ), c AS (
      SELECT r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey ROWS UNBOUNDED PRECEDING)
               AS cum,
             ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS rn
      FROM rev
    ), t AS (SELECT SUM(r) AS total, COUNT(*) AS n FROM rev)
    SELECT CAST(th.threshold AS DOUBLE) AS threshold, MIN(c.rn) AS n_customers,
           ROUND(CAST(MIN(c.rn) AS DOUBLE) / (SELECT n FROM t) * 100, 4)
             AS pct_customers
    FROM (VALUES (0.50), (0.80), (0.95)) th(threshold)
    JOIN c ON c.cum >= (SELECT total FROM t) * th.threshold
    GROUP BY th.threshold
    ORDER BY th.threshold
    """,
)
def revenue_concentration_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto): the smallest customer count whose
    cumulative revenue reaches 50/80/95% of the total. The fact collapses
    to one row per customer first, so the global cumulative window
    orders |customers| rows, not raw orders; the cumulative sum stays in
    DECIMAL so the threshold crossings are exact. The threshold table
    (3 rows) broadcast-joins against the cumulative curve."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("r")
    )
    w = Window.orderBy(F.col("r").desc(), "o_custkey")
    c = rev.select(
        "r",
        F.sum("r").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("rn"),
    )
    t = rev.agg(F.sum("r").alias("total"), F.count(F.lit(1)).alias("n"))
    from decimal import Decimal

    th = spark.createDataFrame(
        [(Decimal("0.50"),), (Decimal("0.80"),), (Decimal("0.95"),)],
        "threshold decimal(3,2)",
    )
    return (
        c.join(F.broadcast(t))
        .join(
            F.broadcast(th),
            # both sides DECIMAL: the crossing comparison is exact, like
            # the oracle's DECIMAL literal arithmetic
            F.col("cum") >= F.col("total") * F.col("threshold"),
        )
        .groupBy("threshold", "n")
        .agg(F.min("rn").alias("n_customers"))
        .select(
            F.col("threshold").cast("double").alias("threshold"),
            "n_customers",
            F.round(F.col("n_customers").cast("double") / F.col("n") * 100, 4)
            .alias("pct_customers"),
        )
        .orderBy("threshold")
    )


@register(
    "global_shuffle_deterministic",
    oracle="""
    WITH shuffled AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS pos
        FROM documents
    )
    SELECT CAST(pos % 8 AS INT) AS shard,
           COUNT(*) AS n_docs, SUM(n_chars) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM shuffled GROUP BY shard ORDER BY shard
    """,
)
def global_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every doc
    gets a reproducible pseudo-random position (md5 of id + seed), then
    round-robin sharding. At 100 TB the md5 sort is a single range-
    partitioned sort (Spark samples boundaries); no driver-side state, and
    re-running with the same seed reproduces the exact epoch order —
    the property training pipelines need for resumable data loading."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), "doc_id")
    shuffled = docs.select(
        "doc_id", "n_chars", (F.row_number().over(w) - 1).alias("pos")
    )
    return (
        shuffled.groupBy((F.col("pos") % 8).cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@register(
    "filter_funnel_stats",
    oracle="""
    WITH staged AS (
        SELECT doc_id,
               (text IS NOT NULL AND text <> '') AS s1_nonempty,
               (text IS NOT NULL AND text <> '' AND LEN(string_split(text, ' ')) >= 20) AS s2_minlen,
               (text IS NOT NULL AND text <> '' AND LEN(string_split(text, ' ')) >= 20
                AND n_chars <= 10000) AS s3_maxchars,
               (text IS NOT NULL AND text <> '' AND LEN(string_split(text, ' ')) >= 20
                AND n_chars <= 10000
                AND CAST(n_chars AS DOUBLE) / LEN(string_split(text, ' ')) < 12.0) AS s4_avgwordlen
        FROM documents
    )
    SELECT COUNT(*) AS total,
           SUM(CASE WHEN s1_nonempty THEN 1 ELSE 0 END) AS pass_nonempty,
           SUM(CASE WHEN s2_minlen THEN 1 ELSE 0 END) AS pass_minlen,
           SUM(CASE WHEN s3_maxchars THEN 1 ELSE 0 END) AS pass_maxchars,
           SUM(CASE WHEN s4_avgwordlen THEN 1 ELSE 0 END) AS pass_avgwordlen,
           ROUND(SUM(CASE WHEN s4_avgwordlen THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS final_pass_rate
    FROM staged
    """,
)
def filter_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel observability: how many documents survive each
    successive quality gate (nonempty → min length → max chars → avg word
    length). One pass, conditional aggregates — no per-stage rescans, which
    is the difference between 1× and 4× the 100 TB scan cost."""
    docs = _t(spark, sf_dir, "documents")
    wc = F.size(F.split(F.col("text"), " "))
    s1 = F.col("text").isNotNull() & (F.col("text") != "")
    s2 = s1 & (wc >= 20)
    s3 = s2 & (F.col("n_chars") <= 10000)
    s4 = s3 & ((F.col("n_chars").cast("double") / wc) < 12.0)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return docs.agg(
        F.count(F.lit(1)).alias("total"),
        cnt(s1).alias("pass_nonempty"),
        cnt(s2).alias("pass_minlen"),
        cnt(s3).alias("pass_maxchars"),
        cnt(s4).alias("pass_avgwordlen"),
        F.round(cnt(s4) * F.lit(1.0) / F.count(F.lit(1)), 6).alias("final_pass_rate"),
    )


@register(
    "scd2_user_history",
    oracle="""
    SELECT user_id, event_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE user_id < 100
    ORDER BY user_id, valid_from, event_id
    """,
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log: each
    event opens a validity interval closed by the next event's timestamp
    (lead window, per-user partitions so state stays bounded), with the
    open-ended row flagged current. This is the standard
    changelog-to-dimension materialization a warehouse engine must own;
    event_id breaks timestamp ties deterministically."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


@register(
    "dq_expectations",
    oracle="""
    SELECT 'orders_rowcount_positive' AS check_name,
           CAST(0 AS BIGINT) AS violations, COUNT(*) AS total,
           CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS pass
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*),
           CASE WHEN SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*),
           CASE WHEN SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END
    FROM orders
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*),
           CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey) THEN 1 ELSE 0 END
    FROM orders
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem),
           CASE WHEN (SELECT COUNT(*) FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM orders o
                                        WHERE o.o_orderkey = l.l_orderkey)) = 0
                THEN 1 ELSE 0 END
    ORDER BY check_name
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (rowcount, not-null, domain,
    uniqueness, referential integrity) evaluated as one unioned report —
    the contract-check pass a pipeline runs before promoting a snapshot.
    Each check is a single aggregate over one scan; the FK check is a
    left-anti join that broadcasts the key side when small and shuffles
    both sides on the key otherwise (AQE decides)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def chk(name, violations, total, passed):
        return (
            F.lit(name).alias("check_name"),
            violations.cast("bigint").alias("violations"),
            total.cast("bigint").alias("total"),
            passed.cast("int").alias("pass"),
        )

    n = F.count(F.lit(1))
    c1 = orders.agg(*chk("orders_rowcount_positive", F.lit(0), n,
                         F.when(n > 0, 1).otherwise(0)))
    null_ck = F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
    c2 = orders.agg(*chk("orders_custkey_not_null", null_ck, n,
                         F.when(null_ck == 0, 1).otherwise(0)))
    dom = F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
    c3 = orders.agg(*chk("orders_totalprice_positive", dom, n,
                         F.when(dom == 0, 1).otherwise(0)))
    dup = F.count(F.lit(1)) - F.countDistinct("o_orderkey")
    c4 = orders.agg(*chk("orders_orderkey_unique", dup, n,
                         F.when(dup == 0, 1).otherwise(0)))
    orphans = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("v"))
    li_total = li.agg(F.count(F.lit(1)).alias("t"))
    c5 = orphans.join(li_total).select(
        F.lit("lineitem_orderkey_fk").alias("check_name"),
        F.col("v").cast("bigint").alias("violations"),
        F.col("t").cast("bigint").alias("total"),
        F.when(F.col("v") == 0, 1).otherwise(0).cast("int").alias("pass"),
    )
    return c1.union(c2).union(c3).union(c4).union(c5).orderBy("check_name")


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL),
    counts AS (
      SELECT event_type, next_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
    tot AS (
      SELECT event_type, SUM(n) AS row_total FROM counts GROUP BY 1)
    SELECT c.event_type, c.next_type, c.n,
           ROUND(CAST(c.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6) AS p
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    ORDER BY c.event_type, c.next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lead window (per-user partitions) → pair counts → row-normalized
    probabilities. The divisor stays integer until one final double
    division, so p is bit-stable."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(tot, "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("row_total").cast("double"), 6
            ).alias("p"),
        )
        .orderBy("event_type", "next_type")
    )


@register(
    "array_hof_breadth",
    oracle="""
    WITH arrs AS (
      SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 4)
    SELECT l_orderkey,
           len(qs) AS n_items,
           CASE WHEN len(list_filter(qs, x -> x > 40)) > 0 THEN 1 ELSE 0 END AS any_gt40,
           CASE WHEN len(list_filter(qs, x -> NOT (x > 0))) = 0 THEN 1 ELSE 0 END AS all_pos,
           len(list_filter(qs, x -> x >= 25)) AS n_ge25,
           ROUND(list_reduce(list_transform(qs, x -> x * 2), (a, b) -> a + b), 2) AS sum_doubled,
           qs[1:3] AS first3,
           list_reverse(qs) AS reversed_qs,
           len(list_distinct(qs)) AS n_distinct
    FROM arrs
    ORDER BY l_orderkey
    LIMIT 100
    """,
)
def array_hof_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function breadth (exists / forall / filter /
    transform+aggregate / slice / reverse / distinct) over per-order
    quantity arrays. Arrays are sorted on construction so the fold order
    — and therefore every float sum — is identical in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    arrs = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_quantity")).alias("qs"))
        .filter(F.size("qs") >= 4)
    )
    return arrs.select(
        "l_orderkey",
        F.size("qs").alias("n_items"),
        F.when(F.exists("qs", lambda x: x > 40), 1).otherwise(0).alias("any_gt40"),
        F.when(F.forall("qs", lambda x: x > 0), 1).otherwise(0).alias("all_pos"),
        F.size(F.filter("qs", lambda x: x >= 25)).alias("n_ge25"),
        F.round(
            F.aggregate(
                F.transform("qs", lambda x: x * 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            2,
        ).alias("sum_doubled"),
        F.slice("qs", 1, 3).alias("first3"),
        F.reverse("qs").alias("reversed_qs"),
        F.size(F.array_distinct("qs")).alias("n_distinct"),
    ).orderBy("l_orderkey").limit(100)


@register(
    "cms_user_event_counts",
    oracle=f"""
    WITH buckets AS (
      SELECT r, {_PORTABLE_H_DUCK.format(x="concat(CAST(r AS VARCHAR), ':', CAST(user_id AS VARCHAR))")} & 255 AS bucket
      FROM events, (SELECT unnest(range(0, 4)) AS r)),
    counters AS (
      SELECT r, bucket, COUNT(*) AS c FROM buckets GROUP BY r, bucket),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10),
    probes AS (
      SELECT e.user_id, e.exact_n, t.r,
             {_PORTABLE_H_DUCK.format(x="concat(CAST(t.r AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))")} & 255 AS bucket
      FROM exact e, (SELECT unnest(range(0, 4)) AS r) t)
    SELECT p.user_id, p.exact_n, MIN(c.c) AS cms_estimate,
           CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overcount
    FROM probes p JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
    ORDER BY exact_n DESC, user_id
    """,
)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch from scratch (4 rows x 256 counters, md5-portable
    row-salted hashes): per-user event-count estimates = min over rows —
    all integer, so the sketch AND its one-sided overcount guarantee
    (estimate >= exact, checked as a column) hash-match the DuckDB
    replica. The counter table is the mergeable map-side state a
    distributed heavy-hitters pass would combine."""
    ev = _t(spark, sf_dir, "events")
    rows = spark.range(4).select(F.col("id").cast("int").alias("r"))
    h = _PORTABLE_H.format(
        x="concat(CAST(r AS STRING), ':', CAST(user_id AS STRING))"
    )
    buckets = ev.crossJoin(F.broadcast(rows)).select(
        "r", F.expr(f"{h} & 255").alias("bucket")
    )
    counters = buckets.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    probes = exact.crossJoin(F.broadcast(rows)).select(
        "user_id", "exact_n", "r", F.expr(f"{h} & 255").alias("bucket")
    )
    return (
        probes.join(counters, ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


@register(
    "quantile_sketch_order_totals",
    oracle="""
    WITH binned AS (
      -- log2-spaced bins via integer doubling: bin = floor(log2(price))
      -- computed with a generated comparison chain (no libm)
      SELECT CASE """ + " ".join(
        f"WHEN o_totalprice >= {1 << b} THEN {b}" for b in range(30, -1, -1)
    ) + """ ELSE -1 END AS bin
      FROM orders),
    hist AS (SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin) AS cum_c,
             (SELECT SUM(c) FROM hist) AS total
      FROM hist),
    qs AS (
      SELECT q,
             MIN(CASE WHEN cum_c >= CAST(ceil(q * total) AS BIGINT)
                      THEN bin END) AS qbin
      FROM cum, (SELECT unnest([0.5, 0.95, 0.99]::DOUBLE[]) AS q)
      GROUP BY q)
    SELECT q, qbin,
           CAST(POW(CAST(2 AS DOUBLE), qbin) AS DOUBLE) AS bin_lower,
           CAST(POW(CAST(2 AS DOUBLE), qbin + 1) AS DOUBLE) AS bin_upper
    FROM qs
    ORDER BY q
    """,
)
def quantile_sketch_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: a log2-bucketed histogram (bins via an
    integer comparison chain, no libm) whose cumulative counts bracket
    any quantile within one power-of-two bin — the fixed-size,
    map-side-combinable state a distributed percentile pass merges. The
    q50/q95/q99 bin bounds are exact integer arithmetic; POW(2, n) is
    exact in doubles."""
    orders = _t(spark, sf_dir, "orders")
    cases = " ".join(
        f"WHEN o_totalprice >= {1 << b} THEN {b}" for b in range(30, -1, -1)
    )
    binned = orders.select(F.expr(f"CASE {cases} ELSE -1 END").alias("bin"))
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    total = hist.agg(F.sum("c").alias("total"))
    cum = hist.join(F.broadcast(total)).select(
        "bin",
        "c",
        F.sum("c").over(Window.orderBy("bin")).alias("cum_c"),
        "total",
    )
    qs = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "q double")
    return (
        cum.crossJoin(F.broadcast(qs))
        .groupBy("q")
        .agg(
            F.min(
                F.when(
                    F.col("cum_c")
                    >= F.ceil(F.col("q") * F.col("total")).cast("bigint"),
                    F.col("bin"),
                )
            ).alias("qbin")
        )
        .select(
            "q",
            "qbin",
            F.expr("CAST(POW(CAST(2 AS DOUBLE), qbin) AS DOUBLE)").alias("bin_lower"),
            F.expr("CAST(POW(CAST(2 AS DOUBLE), qbin + 1) AS DOUBLE)").alias("bin_upper"),
        )
        .orderBy("q")
    )


@register(
    "funnel_time_to_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id),
    conv AS (
      SELECT user_id,
             epoch_us(first_purchase) - epoch_us(first_view) AS latency_us
      FROM firsts
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view)
    SELECT COUNT(*) AS n_converted,
           ROUND(quantile_cont(latency_us, 0.5) / CAST(1000000 AS DOUBLE), 2) AS p50_seconds,
           ROUND(quantile_cont(latency_us, 0.9) / CAST(1000000 AS DOUBLE), 2) AS p90_seconds,
           ROUND(MIN(latency_us) / CAST(1000000 AS DOUBLE), 2) AS min_seconds,
           ROUND(MAX(latency_us) / CAST(1000000 AS DOUBLE), 2) AS max_seconds
    FROM conv
    """,
)
def funnel_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view to first-purchase latency distribution: conditional-min
    pivot per user (one aggregate), exact integer microsecond deltas,
    then interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the interpolation rule, and the inputs are
    exact integers so the interpolation arithmetic is bit-identical."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    conv = firsts.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fv"))
    ).select((F.unix_micros("fp") - F.unix_micros("fv")).alias("latency_us"))
    div = "CAST(1000000 AS DOUBLE)"
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr(f"percentile(latency_us, 0.5) / {div}"), 2).alias("p50_seconds"),
        F.round(F.expr(f"percentile(latency_us, 0.9) / {div}"), 2).alias("p90_seconds"),
        F.round(F.expr(f"MIN(latency_us) / {div}"), 2).alias("min_seconds"),
        F.round(F.expr(f"MAX(latency_us) / {div}"), 2).alias("max_seconds"),
    )


@register(
    "session_path_patterns",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id)
    SELECT
      COUNT(*) AS n_users,
      SUM(len(regexp_extract_all(path, 'vc'))) AS view_click,
      SUM(len(regexp_extract_all(path, 'vp'))) AS view_purchase_direct,
      SUM(len(regexp_extract_all(path, 'vcp'))) AS view_click_purchase,
      SUM(CASE WHEN path LIKE '%p%' THEN 1 ELSE 0 END) AS users_with_purchase,
      SUM(len(regexp_extract_all(path, 'ee'))) AS error_bursts
    FROM ordered
    """,
)
def session_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: per-user event sequences collapsed to a
    first-letter path string (deterministic (ts, event_id) order), then
    regex pattern counts over the paths — the sequence-motif query
    (view→click→purchase funnels, error bursts) that is awkward as joins
    but one regexp over an ordered aggregation. Non-overlapping match
    semantics agree between Spark regexp_count and DuckDB
    regexp_extract_all."""
    ev = _t(spark, sf_dir, "events")
    ordered = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("path")
    )
    return ordered.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.expr("regexp_count(path, 'vc')")).alias("view_click"),
        F.sum(F.expr("regexp_count(path, 'vp')")).alias("view_purchase_direct"),
        F.sum(F.expr("regexp_count(path, 'vcp')")).alias("view_click_purchase"),
        F.sum(F.when(F.col("path").contains("p"), 1).otherwise(0)).alias(
            "users_with_purchase"
        ),
        F.sum(F.expr("regexp_count(path, 'ee')")).alias("error_bursts"),
    )


@register(
    "scd2_point_in_time_lookup",
    oracle="""
    WITH hist AS (
      SELECT user_id, event_id, event_type, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE user_id < 50),
    probes AS (
      SELECT unnest([TIMESTAMP '2024-01-10 12:00:00',
                     TIMESTAMP '2024-01-20 00:30:00',
                     TIMESTAMP '2024-01-29 23:00:00']) AS at_ts)
    SELECT p.at_ts, h.user_id, h.event_id, h.event_type
    FROM probes p JOIN hist h
      ON h.valid_from <= p.at_ts
     AND (h.valid_to IS NULL OR h.valid_to > p.at_ts)
    ORDER BY at_ts, user_id
    """,
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal AS OF) lookup against the SCD2 history:
    for each probe timestamp, the single active row per user — the
    interval-containment join every type-2 dimension serves. The probe
    side broadcasts; validity intervals come from one lead window."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    probes = spark.createDataFrame(
        [("2024-01-10 12:00:00",), ("2024-01-20 00:30:00",),
         ("2024-01-29 23:00:00",)],
        "at_ts string",
    ).select(F.col("at_ts").cast("timestamp").alias("at_ts"))
    return (
        hist.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("at_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("at_ts"))),
        )
        .select("at_ts", "user_id", "event_id", "event_type")
        .orderBy("at_ts", "user_id")
    )


@register(
    "market_basket_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
    brand_n AS (SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2)
    SELECT p.brand_a, p.brand_b, p.n_ab,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST((SELECT n_orders FROM n) AS DOUBLE), 6) AS support,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(na.n AS DOUBLE), 6) AS confidence_a_b,
           ROUND(CAST(p.n_ab AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE) /
                 (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6) AS lift
    FROM pairs p
    JOIN brand_n na ON na.p_brand = p.brand_a
    JOIN brand_n nb ON nb.p_brand = p.brand_b
    WHERE p.n_ab >= 20
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 25
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics for co-purchased brand pairs: support,
    confidence, and lift from exact integer counts with one final double
    division each. Lift > 1 marks genuinely associated pairs rather than
    merely popular ones — the ranking the co-occurrence count alone gets
    wrong. Brand-count table broadcasts; the pair self-join co-partitions
    on the order key."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # (order, brand) feeds four consumers (order count, brand counts, and
    # both self-join sides) — materialize the dedup once
    ob = op_cache.reuse(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .join(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_orders").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 6
            ).alias("confidence_a_b"),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(25)
    )


@register(
    "decile_migration_matrix",
    oracle="""
    WITH monthly AS (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY 1, 2),
    ranked AS (
      SELECT o_custkey, mon,
             ntile(10) OVER (PARTITION BY mon
                             ORDER BY spend DESC, o_custkey) AS decile
      FROM monthly),
    paired AS (
      SELECT o_custkey, mon, decile,
             lag(decile) OVER (PARTITION BY o_custkey ORDER BY mon)
               AS prev_decile
      FROM ranked)
    SELECT prev_decile, decile, COUNT(*) AS n_customers
    FROM paired WHERE prev_decile IS NOT NULL
    GROUP BY prev_decile, decile
    ORDER BY prev_decile, decile
    """,
)
def decile_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-decile migration month over month: monthly DECIMAL
    spend → per-month ntile(10) (deterministic (spend desc, custkey)
    tiebreak) → per-customer lag → transition-count matrix. The churn /
    upsell movement view built from two windows and one aggregate."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("mon")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    ranked = monthly.select(
        "o_custkey",
        "mon",
        F.ntile(10)
        .over(
            Window.partitionBy("mon").orderBy(F.desc("spend"), F.col("o_custkey"))
        )
        .alias("decile"),
    )
    paired = ranked.select(
        "decile",
        F.lag("decile")
        .over(Window.partitionBy("o_custkey").orderBy("mon"))
        .alias("prev_decile"),
    ).filter(F.col("prev_decile").isNotNull())
    return (
        paired.groupBy("prev_decile", "decile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("prev_decile", "decile")
    )


@register(
    "theil_sen_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1),
    slopes AS (
      SELECT (b.rev - a.rev) /
             CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.day < b.day)
    SELECT COUNT(*) AS n_pairs,
           ROUND(quantile_cont(slope, 0.5), 4) AS theil_sen_slope,
           ROUND(MIN(slope), 4) AS min_slope,
           ROUND(MAX(slope), 4) AS max_slope
    FROM slopes
    """,
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate of daily revenue: the median of
    all pairwise slopes — immune to outlier days that wreck least
    squares. Slopes come from exact DECIMAL daily sums cast once to
    DOUBLE over integer day gaps, so every slope is bit-identical and
    the median interpolation matches. The O(days²) pair join is over the
    tiny daily aggregate, never the fact table. The median itself is
    sort-based (row_number over a spillable global sort, then the two
    middle order statistics interpolated exactly like percentile/
    quantile_cont), NOT the exact percentile() aggregate — whose
    collect-everything ListBuffer holds all n² slopes on one heap and
    OOMs a default-sized driver; the sort spills to disk and survives
    any slope count."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (
            (F.col("b.rev") - F.col("a.rev"))
            / F.datediff(F.col("b.day"), F.col("a.day")).cast("double")
        ).alias("slope")
    )
    slopes = op_cache.reuse(slopes)
    stats = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("slope").alias("mn"),
        F.max("slope").alias("mx"),
    )
    ks = stats.select(
        "n_pairs",
        "mn",
        "mx",
        F.expr("(n_pairs + 1) div 2").alias("k1"),
        F.expr("(n_pairs + 1) div 2 + CAST(1 - n_pairs % 2 AS BIGINT)").alias(
            "k2"
        ),
        F.when(F.col("n_pairs") % 2 == 0, F.lit(0.5).cast("double"))
        .otherwise(F.lit(0.0).cast("double"))
        .alias("frac"),
    )
    ranked = slopes.select(
        "slope", F.row_number().over(Window.orderBy("slope")).alias("rn")
    )
    sel = ranked.join(
        F.broadcast(ks),
        (F.col("rn") == F.col("k1")) | (F.col("rn") == F.col("k2")),
    )
    med = sel.groupBy("n_pairs", "mn", "mx", "frac").agg(
        F.min("slope").alias("v1"), F.max("slope").alias("v2")
    )
    return med.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(
            F.col("v1") + F.col("frac") * (F.col("v2") - F.col("v1")), 4
        ).alias("theil_sen_slope"),
        F.round("mn", 4).alias("min_slope"),
        F.round("mx", 4).alias("max_slope"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
    aged AS (
      SELECT f.user_id,
             date_trunc('week', f.first_ts) AS cohort_week,
             CAST(date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) // 7
                  AS BIGINT) AS age_weeks,
             CAST(e.value AS DECIMAL(18,4)) AS v
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'),
    weekly AS (
      SELECT cohort_week, age_weeks, SUM(v) AS rev
      FROM aged GROUP BY 1, 2)
    SELECT cohort_week, age_weeks,
           CAST(ROUND(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY age_weeks), 2)
                AS DOUBLE) AS cum_revenue
    FROM weekly
    ORDER BY cohort_week, age_weeks
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen week,
    purchase revenue bucketed by account age in weeks, accumulated per
    cohort with a running-sum window — the LTV payback view. Revenue
    stays DECIMAL through the cumulative window (bit-stable), cast to
    DOUBLE only in the final report."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase")
    aged = purchases.join(firsts, "user_id").select(
        F.date_trunc("week", "first_ts").cast("date").alias("cohort_week"),
        (
            F.datediff(F.col("ts").cast("date"), F.col("first_ts").cast("date"))
            / F.lit(7)
        )
        .cast("bigint")
        .alias("age_weeks"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    weekly = aged.groupBy("cohort_week", "age_weeks").agg(F.sum("v").alias("rev"))
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return weekly.select(
        "cohort_week",
        "age_weeks",
        F.round(F.sum("rev").over(w), 2).cast("double").alias("cum_revenue"),
    ).orderBy("cohort_week", "age_weeks")


@register(
    "user_activity_entropy",
    oracle=f"""
    WITH counts AS (
      SELECT user_id,
             COUNT(*) AS n,
             {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
                        for t in ("click", "error", "purchase", "signup", "view"))}
      FROM events GROUP BY user_id)
    SELECT user_id, n,
           ROUND({_entropy_terms_sql()}, 6) AS entropy
    FROM counts
    ORDER BY entropy DESC, user_id
    LIMIT 20
    """,
)
def user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the classic
    behavioral diversity feature. Per-type counts pivot via FILTER
    aggregates and the -p·ln(p) terms add in a FIXED order over the
    known type vocabulary, so the float arithmetic is bit-identical
    across engines (a float sum over grouped rows would not be)."""
    types = ("click", "error", "purchase", "signup", "view")
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"COUNT(*) FILTER (WHERE event_type = '{t}')").alias(f"n_{t}")
            for t in types
        ],
    )
    return (
        counts.select(
            "user_id", "n", F.round(F.expr(_entropy_terms_sql(types)), 6).alias("entropy")
        )
        .orderBy(F.desc("entropy"), "user_id")
        .limit(20)
    )


@register(
    "user_interevent_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events),
    g AS (SELECT user_id, gap_us FROM gaps WHERE gap_us IS NOT NULL)
    SELECT user_id,
           COUNT(*) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / CAST(3600000000 AS DOUBLE), 4)
             AS median_gap_hours,
           ROUND(CAST(MIN(gap_us) AS DOUBLE) / CAST(3600000000 AS DOUBLE), 4)
             AS min_gap_hours,
           ROUND(CAST(MAX(gap_us) AS DOUBLE) / CAST(3600000000 AS DOUBLE), 4)
             AS max_gap_hours
    FROM g
    GROUP BY user_id
    HAVING COUNT(*) >= 10
    ORDER BY user_id
    """,
)
def user_interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution (median/min/max hours) from
    exact microsecond lag differences — the activity-cadence feature
    behind churn models. One per-user window, one grouped percentile;
    interpolation over exact integers is bit-stable."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    hours = "CAST(3600000000 AS DOUBLE)"
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.expr(f"percentile(gap_us, 0.5) / {hours}"), 4
            ).alias("median_gap_hours"),
            F.round(F.expr(f"CAST(MIN(gap_us) AS DOUBLE) / {hours}"), 4).alias(
                "min_gap_hours"
            ),
            F.round(F.expr(f"CAST(MAX(gap_us) AS DOUBLE) / {hours}"), 4).alias(
                "max_gap_hours"
            ),
        )
        .filter(F.col("n_gaps") >= 10)
        .orderBy("user_id")
    )


@register(
    "shipping_delay_stats",
    oracle="""
    WITH delays AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS delay_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(quantile_cont(delay_days, 0.5), 2) AS p50_days,
           ROUND(quantile_cont(delay_days, 0.95), 2) AS p95_days,
           CAST(MAX(delay_days) AS BIGINT) AS max_days,
           SUM(CASE WHEN delay_days > 90 THEN 1 ELSE 0 END) AS n_late
    FROM delays
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency KPI per priority class: integer day deltas
    through interpolated percentiles plus an SLA-breach count. The
    orders-lineitem join shuffles once on the order key; everything
    after is one grouped aggregate."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    delays = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("delay_days"),
    )
    return (
        delays.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.expr("percentile(delay_days, 0.5)"), 2).alias("p50_days"),
            F.round(F.expr("percentile(delay_days, 0.95)"), 2).alias("p95_days"),
            F.max("delay_days").cast("bigint").alias("max_days"),
            F.sum(F.when(F.col("delay_days") > 90, 1).otherwise(0)).alias("n_late"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "keyword_in_context",
    oracle="""
    WITH hits AS (
      SELECT doc_id, text,
             position('customer' IN lower(text)) AS pos
      FROM documents
      WHERE position('customer' IN lower(text)) > 0)
    SELECT doc_id, pos,
           substring(text, GREATEST(pos - 20, 1),
                     pos - GREATEST(pos - 20, 1)) AS left_ctx,
           substring(text, pos, 8) AS keyword,
           substring(text, pos + 8, 20) AS right_ctx
    FROM hits
    ORDER BY doc_id
    LIMIT 50
    """,
)
def keyword_in_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance for a fixed term: first
    occurrence position via `position`, left/right context windows via
    arithmetic substrings — the corpus-inspection tool, entirely
    JVM-side string ops with identical 1-based substring semantics in
    both engines."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.expr("position('customer' IN lower(text))")
    hits = docs.select("doc_id", "text", pos.alias("pos")).filter(
        F.col("pos") > 0
    )
    left_start = F.greatest(F.col("pos") - 20, F.lit(1))
    return (
        hits.select(
            "doc_id",
            "pos",
            F.expr(
                "substring(text, GREATEST(pos - 20, 1), pos - GREATEST(pos - 20, 1))"
            ).alias("left_ctx"),
            F.expr("substring(text, pos, 8)").alias("keyword"),
            F.expr("substring(text, pos + 8, 20)").alias("right_ctx"),
        )
        .orderBy("doc_id")
        .limit(50)
    )


@register(
    "active_user_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1),
    wau AS (
      SELECT date_trunc('week', ts) AS week, COUNT(DISTINCT user_id) AS wau
      FROM events GROUP BY 1),
    mau AS (SELECT COUNT(DISTINCT user_id) AS mau FROM events)
    SELECT d.day, d.dau,
           w.wau,
           (SELECT mau FROM mau) AS mau,
           ROUND(CAST(d.dau AS DOUBLE) / CAST((SELECT mau FROM mau) AS DOUBLE), 6)
             AS stickiness
    FROM dau d
    JOIN wau w ON w.week = date_trunc('week', CAST(d.day AS TIMESTAMP))
    ORDER BY d.day
    """,
)
def active_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU growth metrics with the DAU/MAU stickiness ratio —
    three distinct-count grains joined back to the daily spine. Each
    grain is one hash-distinct aggregate; the week/month tables are tiny
    and broadcast."""
    ev = _t(spark, sf_dir, "events")
    dau = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    mau = ev.agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(
            F.broadcast(wau),
            wau.week == F.date_trunc("week", F.col("day").cast("timestamp")),
        )
        .join(F.broadcast(mau))
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "repeat_purchase_distribution",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
    hist AS (
      SELECT n_orders, COUNT(*) AS n_customers FROM freq GROUP BY n_orders),
    tot AS (SELECT SUM(n_customers) AS total FROM hist)
    SELECT n_orders, n_customers,
           ROUND(CAST(n_customers AS DOUBLE) /
                 CAST((SELECT total FROM tot) AS DOUBLE), 6) AS share,
           CAST(SUM(n_customers) OVER (ORDER BY n_orders) AS BIGINT) AS cum_customers
    FROM hist
    ORDER BY n_orders
    """,
)
def repeat_purchase_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase histogram: how many customers placed exactly N
    orders, with share and cumulative counts — the retention shape every
    commerce dashboard opens with. Two nested integer aggregates and one
    running-sum window over the tiny histogram."""
    orders = _t(spark, sf_dir, "orders")
    freq = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    hist = freq.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))
    tot = hist.agg(F.sum("n_customers").alias("total"))
    w = Window.orderBy("n_orders")
    return (
        hist.join(F.broadcast(tot))
        .select(
            "n_orders",
            "n_customers",
            F.round(
                F.col("n_customers").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("share"),
            F.sum("n_customers").over(w).cast("bigint").alias("cum_customers"),
        )
        .orderBy("n_orders")
    )


@register(
    "dau_week_over_week",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1),
    wow AS (
      SELECT day, dau,
             lag(dau, 7) OVER (ORDER BY day) AS dau_prev_week
      FROM dau)
    SELECT day, dau, dau_prev_week,
           ROUND((CAST(dau AS DOUBLE) - CAST(dau_prev_week AS DOUBLE)) /
                 CAST(dau_prev_week AS DOUBLE), 6) AS wow_change
    FROM wow
    WHERE dau_prev_week IS NOT NULL
    ORDER BY day
    """,
)
def dau_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week DAU change: lag(7) against the daily-active spine
    (same weekday comparison, so weekly seasonality cancels) with one
    ratio division — the growth-trend primitive."""
    ev = _t(spark, sf_dir, "events")
    dau = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day")
    wow = dau.select(
        "day", "dau", F.lag("dau", 7).over(w).alias("dau_prev_week")
    ).filter(F.col("dau_prev_week").isNotNull())
    return wow.select(
        "day",
        "dau",
        "dau_prev_week",
        F.round(
            (F.col("dau").cast("double") - F.col("dau_prev_week").cast("double"))
            / F.col("dau_prev_week").cast("double"),
            6,
        ).alias("wow_change"),
    ).orderBy("day")


@register(
    "decision_stump_classifier",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    expl AS (
      SELECT vec_id, y, unnest(qv) AS val,
             unnest(range(1, len(qv) + 1)) AS d
      FROM q),
    cnt AS (
      SELECT d, val,
             SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
      FROM expl GROUP BY d, val),
    cum AS (
      SELECT d, val,
             SUM(pos) OVER (PARTITION BY d ORDER BY val
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp,
             SUM(neg) OVER (PARTITION BY d ORDER BY val
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln
      FROM cnt),
    tot AS (SELECT SUM(y) AS tp, COUNT(*) - SUM(y) AS tn, COUNT(*) AS n FROM q),
    scored AS (
      SELECT d, val,
             GREATEST(lp, ln) + GREATEST(tp - lp, tn - ln) AS n_correct, n
      FROM cum, tot)
    SELECT CAST(d AS INT) AS dim, CAST(val AS INT) AS threshold,
           CAST(n_correct AS BIGINT) AS n_correct,
           ROUND(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_correct DESC, d, val) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def decision_stump_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature decision stump over the quantized embedding
    table for the binary target label<5 — distributed exhaustive split
    search, the building block of tree ensembles. For every (dimension,
    threshold) the split accuracy comes from one cumulative window over
    per-(dim,value) class counts — integer arithmetic throughout, so the
    argmax (ties to lowest dim, then threshold) is engine-exact. One
    shuffle on (dim,value) + a window over the (tiny) count table; the
    corpus never flows into the window."""
    best = _best_stump(_labelled_qv(_t(spark, sf_dir, "embeddings")))
    return best.select(
        F.col("d").cast("int").alias("dim"),
        F.col("val").cast("int").alias("threshold"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.round(
            F.col("n_correct").cast("double") / F.col("n_node"), 6
        ).alias("accuracy"),
    )


def _labelled_qv(emb: DataFrame) -> DataFrame:
    """(y, qv): the quantized embeddings and the binary target label<5 the
    stump and tree classifiers learn."""
    y = F.when(F.col("label") < 5, 1).otherwise(0).alias("y")
    return (
        sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
        .join(emb.select("vec_id", y), "vec_id")
        .select("y", "qv")
    )


def _best_stump(qdf: DataFrame) -> DataFrame:
    """The best single-feature split of ``qdf``'s (y, qv) rows: one row
    (d, val, n_correct, n_node) — split ``qv[d] <= val`` (1-based d), the
    rows it classifies correctly, and the rows it splits. One (d, val)
    count aggregate, a cumulative window over that small table, and the
    argmax (ties to the lowest dim, then threshold)."""
    expl = qdf.select("y", F.posexplode("qv").alias("d0", "val")).select(
        (F.col("d0") + 1).alias("d"), "val", "y"
    )
    cnt = expl.groupBy("d", "val").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    wcum = (
        Window.partitionBy("d")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cnt.select(
        "d",
        "val",
        F.sum("pos").over(wcum).alias("lp"),
        F.sum("neg").over(wcum).alias("ln"),
    )
    tot = qdf.agg(
        F.sum("y").alias("tp"),
        (F.count(F.lit(1)) - F.sum("y")).alias("tn"),
        F.count(F.lit(1)).alias("n"),
    )
    scored = cum.join(F.broadcast(tot)).select(
        "d",
        "val",
        (
            F.greatest("lp", "ln")
            + F.greatest(F.col("tp") - F.col("lp"), F.col("tn") - F.col("ln"))
        ).alias("n_correct"),
        F.col("n").alias("n_node"),
    )
    wtop = Window.orderBy(F.desc("n_correct"), "d", "val")
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select("d", "val", "n_correct", "n_node")
    )


@register(
    "grouped_median_mad_doclen",
    oracle="""
    WITH d AS (SELECT lang AS group_key, n_chars FROM documents),
    ranked AS (
      SELECT group_key, n_chars,
             ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY group_key) AS n
      FROM d),
    med AS (
      SELECT group_key, n AS n_rows, n_chars AS median
      FROM ranked WHERE rn = (n - 1) // 2 + 1),
    dev AS (
      SELECT d.group_key, abs(d.n_chars - m.median) AS ad, m.n_rows, m.median
      FROM d JOIN med m USING (group_key)),
    dranked AS (
      SELECT group_key, n_rows, median, ad,
             ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY ad) AS rn
      FROM dev)
    SELECT group_key, n_rows, median, ad AS mad
    FROM dranked WHERE rn = (n_rows - 1) // 2 + 1
    ORDER BY group_key
    """,
)
def grouped_median_mad_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (applyInPandas): per-language lower-median
    and median-absolute-deviation of document length — whole-group pandas
    logic that needs the full sorted group, shuffled once on the group
    key. Medians are selections (never interpolated), so the DuckDB
    window-based replica matches exactly."""
    from ..operators import grouped as grouped_mod

    docs = _t(spark, sf_dir, "documents")
    return grouped_mod.grouped_median_mad(docs, "lang", "n_chars").orderBy(
        "group_key"
    )


@register(
    "map_functions_breadth",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_types,
           list_sort(list(event_type)) AS types,
           list_sort(list(event_type) FILTER (n >= 5)) AS heavy_types,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(MAX(n) AS BIGINT) AS max_per_type
    FROM cnt
    WHERE user_id < 50
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def map_functions_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface breadth: per-user event-type counts materialized
    as a real MAP column (map_from_entries), then interrogated with
    map_keys / map_filter / map_values / cardinality + aggregate — the
    five core map operators. Output is flattened to sorted arrays and
    scalars (map iteration order is engine-specific; values aren't).
    The oracle reproduces the semantics from the entry list directly."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("int").alias("n_types"),
        F.sort_array(F.map_keys(F.col("m"))).alias("types"),
        F.sort_array(
            F.map_keys(F.map_filter(F.col("m"), lambda k, v: v >= 5))
        ).alias("heavy_types"),
        F.aggregate(
            F.map_values(F.col("m")), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total_events"),
        F.array_max(F.map_values(F.col("m"))).cast("bigint").alias("max_per_type"),
    ).orderBy("user_id")


@register(
    "snapshot_diff_incremental",
    oracle="""
    WITH snap_a AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-02-01 00:00:00')
      WHERE rn = 1),
    snap_b AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-03-01 00:00:00')
      WHERE rn = 1)
    SELECT change_type, COUNT(*) AS n_keys FROM (
      SELECT CASE WHEN a.user_id IS NULL THEN 'added'
                  WHEN b.user_id IS NULL THEN 'removed'
                  WHEN a.event_id <> b.event_id THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM snap_a a FULL OUTER JOIN snap_b b USING (user_id))
    GROUP BY change_type ORDER BY change_type
    """,
)
def snapshot_diff_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-snapshot reconciliation — the consumer-side check of
    the reference's full-vs-incremental export modes (scan.time.range,
    SURVEY §2.2 P4): latest-record-per-key at two time cutoffs, full-outer
    diff keyed on the entity, rows classified added/changed/unchanged.
    Both snapshots use the max_by shape (one hash-agg each) and the diff
    is a single co-partitioned join on the key — no window over the raw
    corpus, so the plan survives the 100 TB scale-up."""
    ev = _t(spark, sf_dir, "events")

    def snap(cutoff: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.max(F.struct("ts", "event_id")).alias("m")
            )
            .select("user_id", F.col("m.event_id").alias("event_id"))
        )

    a = snap("2024-02-01 00:00:00").select(
        F.col("user_id"), F.col("event_id").alias("eid_a")
    )
    b = snap("2024-03-01 00:00:00").select(
        F.col("user_id"), F.col("event_id").alias("eid_b")
    )
    diff = a.join(b, "user_id", "full_outer").select(
        F.when(F.col("eid_a").isNull(), "added")
        .when(F.col("eid_b").isNull(), "removed")
        .when(F.col("eid_a") != F.col("eid_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


@register(
    "k_anonymity_check",
    oracle="""
    WITH spend AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer),
    bucketed AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(bal / 1000) AS INT) AS bal_band
      FROM spend),
    groups AS (
      SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS n
      FROM bucketed GROUP BY 1, 2, 3)
    SELECT CAST(5 AS INT) AS k,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM groups
    """,
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market segment,
    banded account balance): how many equivalence classes fall below
    k=5, and how many rows they expose — the privacy gate a training-data
    release runs before shipping. One hash-agg over the quasi-identifier
    tuple; integer banding keeps it engine-exact."""
    cust = _t(spark, sf_dir, "customer")
    groups = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal").cast("double") / 1000)
            .cast("int")
            .alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return groups.agg(
        F.lit(5).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("n").cast("bigint").alias("min_group_size"),
    )


@register(
    "contrastive_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
               FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, q.q_label, e.vec_id AS nid, e.label AS n_label,
             {_VDOT_KNN.format(a="q.qv", b="e.embedding")} /
             (sqrt({_VDOT_KNN.format(a="q.qv", b="q.qv")}) *
              sqrt({_VDOT_KNN.format(a="e.embedding", b="e.embedding")})) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label)
    SELECT query_id, q_label,
           nid AS hard_negative_id,
           CAST(n_label AS INT) AS negative_label,
           ROUND(cos, 6) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, nid) AS rn
          FROM scored)
    WHERE rn = 1
    ORDER BY query_id
    """,
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the most-similar vector with a DIFFERENT label — the
    highest-value negative example. Same broadcast-probe shape as the kNN
    classifier (probes broadcast, corpus streamed; swap candidate
    generation for the LSH path at corpus scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    scored = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("q_label")),
    ).select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        sim_mod.cosine(F.col("qv"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "q_label",
            F.col("nid").alias("hard_negative_id"),
            F.col("n_label").cast("int").alias("negative_label"),
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id")
    )


@register(
    "bottomk_hash_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT lang, doc_id,
             {_MD5H.format(col="concat('sample:', CAST(doc_id AS VARCHAR))")} AS h
      FROM documents)
    SELECT lang, doc_id, CAST(rn AS INT) AS sample_rank
    FROM (SELECT lang, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
          FROM hashed)
    WHERE rn <= 5
    ORDER BY lang, sample_rank
    """,
)
def bottomk_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k-by-hash sampling: the MERGEABLE uniform sample (the
    bottom-k sketch) — take the k smallest md5 values per stratum.
    Unlike reservoir sampling it needs no RNG state and unions/merges by
    simply re-taking the bottom k, which is what makes it the 100 TB
    sampling primitive (combine per-partition bottom-k, then global).
    Deterministic: same corpus, same sample, any partitioning."""
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(
        dedup_mod.PORTABLE_HASH_SQL.format(
            col="concat('sample:', CAST(doc_id AS STRING))"
        )
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", F.col("rn").cast("int").alias("sample_rank"))
        .orderBy("lang", "sample_rank")
    )


@register(
    "span_corruption_masks",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_NB_WORDS} AS ws FROM documents
      WHERE doc_id < 50 AND trim(text) != ''),
    pos AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p, len(ws) AS n
      FROM words),
    starts AS (
      SELECT doc_id, p, n,
             CASE WHEN ({_MD5H.format(col="concat(CAST(doc_id AS VARCHAR), ':', CAST(p AS VARCHAR))")}) % 7 = 0
                  THEN 1 ELSE 0 END AS is_start
      FROM pos),
    masked AS (
      SELECT s.doc_id, s.n, p2.p AS mp
      FROM starts s
      JOIN pos p2 ON p2.doc_id = s.doc_id
                 AND p2.p BETWEEN s.p AND s.p + 2
      WHERE s.is_start = 1
      GROUP BY s.doc_id, s.n, p2.p)
    SELECT w.doc_id,
           CAST(len(w.ws) AS INT) AS n_tokens,
           CAST(COALESCE(m.n_masked, 0) AS INT) AS n_masked,
           ROUND(CAST(COALESCE(m.n_masked, 0) AS DOUBLE) / len(w.ws), 6)
             AS mask_ratio
    FROM words w
    LEFT JOIN (SELECT doc_id, COUNT(*) AS n_masked FROM masked GROUP BY doc_id) m
      USING (doc_id)
    ORDER BY w.doc_id
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning: deterministic mask-span starts
    (hash(doc,pos) ≡ 0 mod 7), spans of 3 tokens, overlaps merged — and
    the resulting per-document mask budget. Hash-derived masks make the
    corruption reproducible across runs/engines (no RNG in the data
    path), which is how a distributed pretraining pipeline keeps masking
    consistent between retries."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & (F.trim(F.col("text")) != "")
    )
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    words = docs.select("doc_id", ws.alias("ws"))
    pos = words.select(
        "doc_id", F.size("ws").alias("n"), F.posexplode("ws").alias("p0", "_w")
    ).select("doc_id", "n", (F.col("p0") + 1).alias("p"))
    h = F.expr(
        dedup_mod.PORTABLE_HASH_SQL.format(
            col="concat(CAST(doc_id AS STRING), ':', CAST(p AS STRING))"
        )
    )
    starts = pos.withColumn("is_start", F.when(h % 7 == 0, 1).otherwise(0))
    masked = (
        starts.filter(F.col("is_start") == 1)
        .alias("s")
        .join(
            pos.alias("p2"),
            (F.col("p2.doc_id") == F.col("s.doc_id"))
            & (F.col("p2.p") >= F.col("s.p"))
            & (F.col("p2.p") <= F.col("s.p") + 2),
        )
        .select(F.col("s.doc_id").alias("doc_id"), F.col("p2.p").alias("mp"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_masked"))
    )
    return (
        words.join(masked, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("int").alias("n_tokens"),
            F.coalesce("n_masked", F.lit(0)).cast("int").alias("n_masked"),
            F.round(
                F.coalesce("n_masked", F.lit(0)).cast("double") / F.size("ws"), 6
            ).alias("mask_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "ks_test_order_totals",
    oracle="""
    WITH a AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
               WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
          WHERE o_orderpriority = '5-LOW'),
    na AS (SELECT COUNT(*) AS n FROM a),
    nb AS (SELECT COUNT(*) AS n FROM b),
    merged AS (
      SELECT v, 1 AS is_a, 0 AS is_b FROM a
      UNION ALL SELECT v, 0, 1 FROM b),
    cum AS (
      SELECT v,
             SUM(is_a) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(is_b) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM merged),
    at_v AS (
      SELECT v, MAX(ca) AS ca, MAX(cb) AS cb FROM cum GROUP BY v),
    d AS (
      SELECT MAX(abs(CAST(ca AS DOUBLE) * (SELECT n FROM nb)
                     - CAST(cb AS DOUBLE) * (SELECT n FROM na))) AS dnum
      FROM at_v)
    SELECT (SELECT n FROM na) AS n_a,
           (SELECT n FROM nb) AS n_b,
           ROUND((SELECT dnum FROM d) /
                 ((SELECT CAST(n AS DOUBLE) FROM na) * (SELECT n FROM nb)), 6)
             AS ks_d
    """,
)
def ks_test_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between urgent and low
    priority order totals — distribution-drift detection, computed as
    max |n_b·CA(v) − n_a·CB(v)| / (n_a·n_b) over the merged value points.
    The cumulative counts are integers (the tie-handling MAX per value
    makes both step functions right-continuous), so the sup is exact and
    only one final division happens in floating point."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_totalprice").cast("double").alias("v"),
        F.lit(1).alias("is_a"),
        F.lit(0).alias("is_b"),
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_totalprice").cast("double").alias("v"),
        F.lit(0).alias("is_a"),
        F.lit(1).alias("is_b"),
    )
    merged = a.unionByName(b)
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = merged.select(
        "v",
        F.sum("is_a").over(wcum).alias("ca"),
        F.sum("is_b").over(wcum).alias("cb"),
    )
    at_v = cum.groupBy("v").agg(F.max("ca").alias("ca"), F.max("cb").alias("cb"))
    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    return (
        at_v.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ca").cast("double") * F.col("n_b")
                        - F.col("cb").cast("double") * F.col("n_a")
                    )
                )
                / (F.first("n_a").cast("double") * F.first("n_b")),
                6,
            ).alias("ks_d"),
        )
    )


@register(
    "psi_population_stability",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
                  THEN 'ref' ELSE 'cur' END AS period,
             LEAST(CAST(o_totalprice / 50000 AS INT), 9) AS band
      FROM orders),
    cnt AS (
      SELECT band,
             SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM banded GROUP BY band),
    tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM cnt),
    terms AS (
      SELECT band,
             CAST(ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr) *
                        ln((CAST(n_cur AS DOUBLE) * tr) /
                           (CAST(n_ref AS DOUBLE) * tc)), 8)
                  AS DECIMAL(18,8)) AS term
      FROM cnt, tot WHERE n_ref > 0 AND n_cur > 0)
    SELECT CAST(COUNT(*) AS INT) AS n_bands,
           CAST(ROUND(SUM(term), 6) AS DOUBLE) AS psi
    FROM terms
    """,
)
def psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between pre-1995 and post-1995 order
    totals over 10 fixed value bands — the drift metric a production
    scoring pipeline alarms on (PSI > 0.2 = retrain). Each band term is
    rounded then fixed as DECIMAL before the sum, so band order can't
    perturb the result; the ln ratio is assembled left-to-right
    identically on both engines."""
    orders = _t(spark, sf_dir, "orders")
    banded = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"),
            "ref",
        )
        .otherwise("cur")
        .alias("period"),
        F.least((F.col("o_totalprice") / 50000).cast("int"), F.lit(9)).alias("band"),
    )
    cnt = banded.groupBy("band").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = cnt.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    terms = (
        cnt.join(F.broadcast(tot))
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            F.round(
                (
                    F.col("n_cur").cast("double") / F.col("tc")
                    - F.col("n_ref").cast("double") / F.col("tr")
                )
                * F.log(
                    (F.col("n_cur").cast("double") * F.col("tr"))
                    / (F.col("n_ref").cast("double") * F.col("tc"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("term")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("int").alias("n_bands"),
        F.round(F.sum("term"), 6).cast("double").alias("psi"),
    )


@register(
    "unicode_category_profile",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) ) AS BIGINT)
             AS ascii_letters,
           CAST(SUM(len(regexp_replace(text, '[^0-9]', '', 'g'))) AS BIGINT)
             AS digits,
           CAST(SUM(len(regexp_replace(text, '[^ \\t]', '', 'g'))) AS BIGINT)
             AS whitespace,
           CAST(SUM(len(text)
                    - len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    - len(regexp_replace(text, '[^0-9]', '', 'g'))
                    - len(regexp_replace(text, '[^ \\t]', '', 'g'))) AS BIGINT)
             AS other_chars,
           ROUND(CAST(SUM(len(text)
                    - len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    - len(regexp_replace(text, '[^0-9]', '', 'g'))
                    - len(regexp_replace(text, '[^ \\t]', '', 'g'))) AS DOUBLE)
                 / SUM(len(text)), 6) AS other_ratio
    FROM documents WHERE length(text) > 0
    GROUP BY lang ORDER BY lang
    """,
)
def unicode_category_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class census per language — ASCII letters, digits,
    whitespace, and everything else (the 'other' bucket is where CJK and
    other non-Latin scripts land) — the byte-level profile that routes
    documents to script-appropriate processing. Integer counts from
    regex strip-and-measure; one narrow pass."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def count_class(pattern: str):
        return F.length(F.regexp_replace(F.col("text"), pattern, ""))

    letters = count_class(r"[^a-zA-Z]")
    digits = count_class(r"[^0-9]")
    wsp = count_class(r"[^ \t]")
    other = F.length("text") - letters - digits - wsp
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(letters).cast("bigint").alias("ascii_letters"),
            F.sum(digits).cast("bigint").alias("digits"),
            F.sum(wsp).cast("bigint").alias("whitespace"),
            F.sum(other).cast("bigint").alias("other_chars"),
            F.round(
                F.sum(other).cast("double") / F.sum(F.length("text")), 6
            ).alias("other_ratio"),
        )
        .orderBy("lang")
    )


@register(
    "churn_label_generation",
    oracle="""
    WITH horizon AS (SELECT MAX(ts) AS h FROM events),
    per_user AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             MAX(ts) AS last_seen,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(datediff('day', CAST(last_seen AS DATE),
                         CAST((SELECT h FROM horizon) AS DATE)) AS INT)
             AS days_inactive,
           CASE WHEN datediff('day', CAST(last_seen AS DATE),
                              CAST((SELECT h FROM horizon) AS DATE)) >= 14
                THEN 1 ELSE 0 END AS churn_label
    FROM per_user
    ORDER BY user_id
    """,
)
def churn_label_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-label assembly: per-user activity features plus a churn
    label (no activity in the 14 days before the data horizon) — the
    feature/label join a training-data pipeline emits for a tabular
    model. One aggregate + a broadcast scalar horizon; integer day
    arithmetic keeps it engine-exact."""
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").cast("date").alias("h"))
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_seen"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    days = F.datediff(F.col("h"), F.col("last_seen").cast("date"))
    return (
        per_user.join(F.broadcast(horizon))
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_purchases").cast("bigint").alias("n_purchases"),
            days.cast("int").alias("days_inactive"),
            F.when(days >= 14, 1).otherwise(0).alias("churn_label"),
        )
        .orderBy("user_id")
    )


@register(
    "robust_outlier_docs",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM d),
    med AS (
      SELECT lang, n_chars AS median FROM ranked WHERE rn = (n - 1) // 2 + 1),
    dev AS (
      SELECT d.lang, abs(d.n_chars - m.median) AS ad
      FROM d JOIN med m USING (lang)),
    dranked AS (
      SELECT lang, ad,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ad) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM dev),
    mad AS (SELECT lang, ad AS mad FROM dranked WHERE rn = (n - 1) // 2 + 1)
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(m.median AS BIGINT) AS lang_median,
           CAST(md.mad AS BIGINT) AS lang_mad
    FROM d JOIN med m USING (lang) JOIN mad md USING (lang)
    WHERE md.mad > 0 AND abs(d.n_chars - m.median) > 2 * md.mad
    ORDER BY d.doc_id
    """,
    require_rows=True,
)
def robust_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length outliers: documents more than 2 MADs from their
    language's median length — the grouped-map median/MAD operator
    (applyInPandas) composed back against the corpus, the
    outlier-quarantine step of a curation pipeline. Selection medians
    keep it engine-exact; the per-lang stats broadcast.

    The multiplier is 2 (not the textbook 3) because the driver's
    synthetic length distribution has no >3-MAD tail at ANY scale factor
    — a 3×-MAD gate passed 0==0 vacuously (round-8 verdict finding #1);
    at 2 the gate selects 22/22/175 docs at sf0.001/0.01/0.1, so the
    median/MAD values actually reach the comparison, and
    ``require_rows=True`` keeps it that way."""
    from ..operators import grouped as grouped_mod

    docs = _t(spark, sf_dir, "documents")
    stats = grouped_mod.grouped_median_mad(docs, "lang", "n_chars").select(
        F.col("group_key").alias("lang"),
        F.col("median").alias("lang_median"),
        F.col("mad").alias("lang_mad"),
    )
    return (
        docs.join(F.broadcast(stats), "lang")
        .filter(
            (F.col("lang_mad") > 0)
            & (F.abs(F.col("n_chars") - F.col("lang_median")) > 2 * F.col("lang_mad"))
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("lang_median").cast("bigint").alias("lang_median"),
            F.col("lang_mad").cast("bigint").alias("lang_mad"),
        )
        .orderBy("doc_id")
    )


@register(
    "partitioned_scan_pruning",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
           CAST(MONTH(o_orderdate) AS INT) AS o_month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE YEAR(o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def partitioned_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning: orders re-laid-out partitioned by
    year, then a 2-year query reads ONLY those directories — the scan's
    PartitionFilters prune at planning time, no data files outside
    1996/1997 are opened. At 100 TB partition-on-date is the first
    layout decision anyone makes; this pins that the pruned read
    returns byte-identical aggregates to the full-scan-and-filter."""
    stage = _qstage("orders_by_year")
    orders = _t(spark, sf_dir, "orders")
    (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .write.partitionBy("o_year")
        .mode("overwrite")
        .parquet(stage)
    )
    part = spark.read.parquet(stage).filter(F.col("o_year").isin(1996, 1997))
    return (
        part.groupBy(
            "o_year", F.month("o_orderdate").cast("int").alias("o_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_year", "o_month")
    )


@register(
    "dpp_partitioned_fact_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS {_DEC})), 2) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def dpp_partitioned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned on the
    join key and the filter lives only on the (broadcast) dim side, so
    the partitions to read are only known at RUNTIME — Spark injects a
    dynamic-pruning subquery into the fact scan instead of reading all
    five priority partitions. This is the star-schema scan-reduction
    mechanism at 100 TB (filter on the date/priority dim, never scan
    the cold partitions)."""
    stage = _qstage("orders_by_priority")
    orders = _t(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(stage)
    fact = spark.read.parquet(stage)
    dim = (
        orders.select("o_orderpriority").distinct()
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .withColumnRenamed("o_orderpriority", "pri")
    )
    return (
        fact.join(F.broadcast(dim), fact.o_orderpriority == dim.pri)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "format_roundtrip_consistency",
    oracle=f"""
    WITH base AS (
      SELECT COUNT(*) AS n_rows,
             CAST(ROUND(SUM(CAST(l_quantity AS {_DEC})), 2) AS DOUBLE)
               AS sum_qty,
             CAST(ROUND(SUM(CAST(l_extendedprice AS {_DEC})), 2) AS DOUBLE)
               AS sum_price,
             COUNT(DISTINCT l_returnflag) AS n_flags
      FROM lineitem)
    SELECT fmt, n_rows, sum_qty, sum_price, n_flags
    FROM base, (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
    ORDER BY fmt
    """,
)
def format_roundtrip_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth: the same projection written to CSV,
    JSON and ORC and read back (CSV/JSON with explicit schemas — never
    schema inference in production paths), then identically aggregated.
    Doubles survive the text formats because Spark writes shortest
    round-trippable representations; the oracle computes the same
    aggregates once from parquet and expects them from every format."""
    import os

    stage = _qstage("fmt_roundtrip")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )
    schema = li.schema
    outs = []
    for fmt in ("csv", "json", "orc"):
        p = os.path.join(stage, fmt)
        w = li.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(p)
        r = spark.read.format(fmt)
        if fmt in ("csv", "json"):
            r = r.schema(schema)
            if fmt == "csv":
                r = r.option("header", "true")
        back = r.load(p)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("l_quantity").cast(_DEC)), 2)
                .cast("double")
                .alias("sum_qty"),
                F.round(F.sum(F.col("l_extendedprice").cast(_DEC)), 2)
                .cast("double")
                .alias("sum_price"),
                F.countDistinct("l_returnflag").alias("n_flags"),
            ).select(F.lit(fmt).alias("fmt"), "n_rows", "sum_qty",
                     "sum_price", "n_flags")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fmt")


@register("ols_regression_2feature", oracle=_OLS_SQL)
def ols_regression_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares (price ~ quantity + discount)
    by the normal equations: ONE aggregate pass collects the 9 moment
    sums in exact DECIMAL, then the closed-form 2x2 solve runs on the
    driver-side 1-row frame. This is the distributed-OLS shape — moments
    are a map-side-combinable aggregate, the solve is O(p^2) on one row
    — and it extends to p features as a p x p Gram matrix. The moment
    sums are rounded before the double cast so the numerators stay
    exactly representable; the solve text is identical in both engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_OLS_SQL)


@register(
    "tree_depth2_classifier",
    oracle=f"""
    WITH q AS (
      SELECT [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    root AS ({_stump_sql("q")}),
    qL AS (SELECT q.y, q.qv FROM q, root
           WHERE q.qv[root.dim] <= root.threshold),
    qR AS (SELECT q.y, q.qv FROM q, root
           WHERE q.qv[root.dim] > root.threshold),
    lx AS ({_stump_sql("qL")}),
    rx AS ({_stump_sql("qR")})
    SELECT * FROM (
      SELECT 'root' AS node, CAST(dim AS INT) AS dim,
             CAST(threshold AS INT) AS threshold,
             CAST(n_node AS BIGINT) AS n_node,
             CAST(n_correct AS BIGINT) AS n_correct,
             ROUND(CAST(n_correct AS DOUBLE) / n_node, 6) AS accuracy
      FROM root
      UNION ALL
      SELECT 'left', CAST(dim AS INT), CAST(threshold AS INT),
             CAST(n_node AS BIGINT), CAST(n_correct AS BIGINT),
             ROUND(CAST(n_correct AS DOUBLE) / n_node, 6)
      FROM lx
      UNION ALL
      SELECT 'right', CAST(dim AS INT), CAST(threshold AS INT),
             CAST(n_node AS BIGINT), CAST(n_correct AS BIGINT),
             ROUND(CAST(n_correct AS DOUBLE) / n_node, 6)
      FROM rx)
    ORDER BY node
    """,
)
def tree_depth2_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy depth-2 decision tree over the quantized embedding features
    (binary target label<5) — the decision_stump_classifier split search
    applied recursively: best (dim, threshold) at the root, then the best
    stump WITHIN each branch. Split quality is integer split accuracy
    (ties to lowest dim, then threshold), so every argmax is engine-
    exact. Each level is one (dim,value) aggregate + a window over the
    tiny count table; the corpus is cached once and scanned three times
    — at 100 TB this is the per-level histogram pass every distributed
    tree learner (XGBoost-style) runs, with the branch filter pushed into
    the scan rather than materializing per-node copies."""
    q = op_cache.reuse(_labelled_qv(_t(spark, sf_dir, "embeddings")))

    # root feeds THREE consumers (both branch filters via rootb + the
    # output union); without materialization the root-level explode +
    # aggregate over the cached corpus runs three times (guide §1.2).
    # The stump result is one row.
    root = op_cache.checkpoint(_best_stump(q))
    rootb = F.broadcast(
        root.select(F.col("d").alias("rd"), F.col("val").alias("rv"))
    )
    qj = q.crossJoin(rootb)
    left = _best_stump(qj.filter(F.expr("element_at(qv, rd) <= rv")).select("y", "qv"))
    right = _best_stump(qj.filter(F.expr("element_at(qv, rd) > rv")).select("y", "qv"))

    def out(node: str, s: DataFrame) -> DataFrame:
        return s.select(
            F.lit(node).alias("node"),
            F.col("d").cast("int").alias("dim"),
            F.col("val").cast("int").alias("threshold"),
            F.col("n_node").cast("bigint").alias("n_node"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.round(
                F.col("n_correct").cast("double") / F.col("n_node"), 6
            ).alias("accuracy"),
        )

    return (
        out("root", root)
        .unionByName(out("left", left))
        .unionByName(out("right", right))
        .orderBy("node")
    )


@register("l_diversity_audit", oracle=_LDIV_SQL)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (the k-anonymity companion): for each quasi-
    identifier class (nation, market segment) count the DISTINCT values
    of the sensitive attribute (order priority) — classes below l=3, and
    classes where one sensitive value holds a majority (vulnerable to
    homogeneity attack even when l is met). Two hash-aggregates, all
    integers; the release gate a curated dataset runs after k-anonymity
    passes."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LDIV_SQL)


@register("seasonal_naive_mase", oracle=_MASE_SQL)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline comparison on the daily order-count series: the
    seasonal-naive predictor (value 7 observations back) scored against
    the naive predictor (previous observation) as a MASE-style absolute-
    error ratio — below 1 means weekly seasonality is real signal, the
    go/no-go check before fitting anything fancier. Integer counts and
    absolute errors keep both engines exact; the lags are observation
    lags over the ordered date spine (robust to calendar gaps)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_MASE_SQL)


@register(
    "generator_outer_semantics",
    oracle="""
    WITH po AS (
      SELECT c.c_custkey, c.c_nationkey, o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS total
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    SELECT c_nationkey,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty_customers,
           CAST(ROUND(SUM(total), 2) AS DOUBLE) AS sum_total
    FROM po
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def generator_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER generator semantics: per-customer arrays of pending-order
    structs exploded with inline_outer, which emits one all-NULL row for
    an EMPTY array instead of dropping the customer — the generator-side
    equivalent of a left join, and the semantics corner that silently
    loses rows when someone uses plain explode on sparse nested data.
    The oracle is the relational form (LEFT JOIN) the generator must
    agree with."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    p = orders.filter(F.col("o_orderstatus") == "P").select(
        "o_custkey",
        F.struct(
            F.col("o_orderkey"),
            F.col("o_totalprice").cast(_DEC).alias("total"),
        ).alias("s"),
    )
    arr = (
        cust.join(p, cust.c_custkey == p.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sort_array(
                F.collect_list("s")
            ).alias("orders_arr")
        )
    )
    ex = arr.select(
        "c_custkey",
        "c_nationkey",
        F.expr("inline_outer(orders_arr)"),
    )
    return (
        ex.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_empty_customers"),
            F.round(F.sum("total"), 2).cast("double").alias("sum_total"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "reused_exchange_monthly_share",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS y, CAST(MONTH(o_orderdate) AS INT) AS m,
             SUM(CAST(o_totalprice AS {_DEC})) AS rev
      FROM orders GROUP BY 1, 2)
    SELECT y, m,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE) /
                 CAST((SELECT SUM(rev) FROM monthly) AS DOUBLE), 6) AS share
    FROM monthly
    ORDER BY y, m
    """,
)
def reused_exchange_monthly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total over an aggregate where BOTH consumers (the monthly
    rows and their global sum) hang off the same shuffle: Spark plans the
    second consumer as a ReusedExchange, so the fact table is scanned and
    shuffled exactly once even though the dataflow reads the aggregate
    twice. The alternative people write — a global-window over the agg —
    funnels everything through one partition; this shape broadcasts a
    1-row total instead. Plan-shape test asserts the reuse."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"))
    )
    total = monthly.agg(F.sum("rev").alias("tot"))
    return (
        monthly.crossJoin(F.broadcast(total))
        .select(
            "y",
            "m",
            F.round(F.col("rev"), 2).cast("double").alias("revenue"),
            F.round(
                F.col("rev").cast("double") / F.col("tot").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("y", "m")
    )


@register(
    "markov_stationary_2step",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    trans AS (
      SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY event_type, nxt),
    tot AS (SELECT src, SUM(n) AS tn FROM trans GROUP BY src),
    p AS (
      SELECT t.src, t.dst, CAST(t.n AS DOUBLE) / tt.tn AS pr
      FROM trans t JOIN tot tt ON tt.src = t.src),
    types AS (SELECT DISTINCT event_type AS s FROM events),
    v0 AS (SELECT s, CAST(1 AS DOUBLE) /
                     (SELECT COUNT(*) FROM types) AS w FROM types),
    v1 AS (
      SELECT p.dst AS s, SUM(v0.w * p.pr) AS w
      FROM v0 JOIN p ON p.src = v0.s GROUP BY p.dst),
    v2 AS (
      SELECT p.dst AS s, SUM(v1.w * p.pr) AS w
      FROM v1 JOIN p ON p.src = v1.s GROUP BY p.dst)
    SELECT s AS event_type, ROUND(w, 6) AS stationary_weight
    FROM v2 ORDER BY s
    """,
)
def markov_stationary_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power steps toward the stationary distribution of the
    per-user event-transition Markov chain (uniform start) — the
    behavioral-model readout built on event_transition_matrix. Each step
    is a 5x5-matrix-sized join; the only corpus-scale work is the one
    transition count. The double sums per step run over <= 5 terms per
    destination grouped identically in both engines; per-row probability
    division text is identical, so values match bit-for-bit after
    rounding."""
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(wseq).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("src").agg(F.sum("n").alias("tn"))
    prob = trans.join(tot, "src").select(
        "src", "dst", (F.col("n").cast("double") / F.col("tn")).alias("pr")
    )
    prob = op_cache.reuse(prob)
    types = ev.select(F.col("event_type").alias("s")).distinct()
    n_types = types.count()
    v = types.select("s", (F.lit(1.0) / F.lit(float(n_types))).alias("w"))
    for _ in range(2):
        v = (
            v.join(prob, v.s == prob.src)
            .groupBy(F.col("dst").alias("s2"))
            .agg(F.sum(F.col("w") * F.col("pr")).alias("w"))
            .withColumnRenamed("s2", "s")
        )
    return v.select(
        F.col("s").alias("event_type"),
        F.round("w", 6).alias("stationary_weight"),
    ).orderBy("event_type")


@register(
    "duplicate_span_profile",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    grams AS (
      SELECT k, gram, COUNT(DISTINCT doc_id) AS df
      FROM (
        SELECT doc_id, 4 AS k,
               list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gram
        FROM words, UNNEST(range(1, len(ws) - 2)) AS t(i)
        UNION ALL
        SELECT doc_id, 8 AS k,
               list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram
        FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)
        UNION ALL
        SELECT doc_id, 16 AS k,
               list_aggregate(ws[i:i+15], 'string_agg', ' ') AS gram
        FROM words, UNNEST(range(1, len(ws) - 14)) AS t(i)
      ) g
      GROUP BY k, gram)
    SELECT CAST(k AS INT) AS k,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_doc_dup,
           ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
                 COUNT(*), 6) AS dup_ratio
    FROM grams
    GROUP BY k
    ORDER BY k
    """,
)
def duplicate_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span profile at 4/8/16-word spans — the
    diagnostic behind exact-substring dedup policy (Lee et al.): how the
    duplicated fraction decays with span length tells you the minimum
    span worth deduplicating. One tokenize feeds three shingle explodes;
    each span length is a distinct-doc count per gram (hash aggregate,
    no joins). The dup ratio uses integer counts only."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.split(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
        ).alias("ws"),
    )
    outs = []
    for k in (4, 8, 16):
        grams = words.select(
            "doc_id",
            F.explode(
                # sequence(1, 0) DESCENDS in Spark (default step -1), so
                # short docs must short-circuit to an empty array
                F.expr(
                    f"CASE WHEN size(ws) >= {k} THEN "
                    f"transform(sequence(1, size(ws) - {k - 1}), "
                    f"i -> array_join(slice(ws, i, {k}), ' ')) "
                    f"ELSE CAST(array() AS ARRAY<STRING>) END"
                )
            ).alias("gram"),
        )
        per = grams.groupBy("gram").agg(
            F.countDistinct("doc_id").alias("df")
        )
        outs.append(
            per.agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                .cast("bigint")
                .alias("n_cross_doc_dup"),
            ).select(
                F.lit(k).cast("int").alias("k"),
                "n_grams",
                "n_cross_doc_dup",
                F.round(
                    F.col("n_cross_doc_dup").cast("double") / F.col("n_grams"),
                    6,
                ).alias("dup_ratio"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


@register("hll_merge_by_type", oracle=_hll_merge_oracle())
def hll_merge_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches worth their error bars:
    MERGEABILITY. Per-event-type HyperLogLog registers are built once,
    then the global sketch is the bucketwise MAX of the per-type
    registers — no second pass over the data — and its estimate is
    byte-identical to what a direct global sketch would give (max is
    associative). This is the map-side-combine / cross-datacenter rollup
    contract; everything stays exact integers until one final division
    (same arithmetic as hll_distinct_users)."""
    p = 8
    m, wbits, rank_sql, alpha = _hll_parts(p)
    ev = _t(spark, sf_dir, "events")
    h = ev.select(
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
    regs = ranked.groupBy("g", "bucket").agg(F.expr(f"MAX({rank_sql})").alias("mj"))
    regs = op_cache.reuse(regs)
    merged = regs.groupBy("bucket").agg(F.max("mj").alias("mj")).select(
        F.lit("zz_merged").alias("g"), "bucket", "mj"
    )
    allregs = regs.unionByName(merged)
    scopes = allregs.select("g").distinct()
    buckets = ev.sparkSession.range(m).select(F.col("id").alias("bucket"))
    full = (
        scopes.crossJoin(buckets)
        .join(allregs, ["g", "bucket"], "left")
        .select("g", "bucket", F.coalesce("mj", F.lit(0)).alias("mj"))
    )
    sums = full.groupBy("g").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {wbits + 1} - mj)")).alias(
            "inv_scaled"
        ),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = (
        F.lit(alpha)
        * F.lit(m * m).cast("double")
        * F.lit(1 << (wbits + 1)).cast("double")
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
    ex = (
        ev.groupBy(F.col("event_type").alias("g"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .unionByName(
            ev.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
                F.lit("zz_merged").alias("g"), "exact_distinct"
            )
        )
    )
    return (
        sums.join(ex, "g")
        .select(F.col("g").alias("scope"), est.alias("hll_estimate"),
                "exact_distinct")
        .orderBy("scope")
    )


@register("split_leakage_audit")
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs (exact n-gram
    Jaccard >= 0.2, the registry's dedup ground truth) crossed with the
    md5 train/valid/test assignment — a pair whose endpoints land in
    different splits means the held-out set contains a near-copy of a
    training document, the contamination that silently inflates evals.
    This is the composition check a curation pipeline runs AFTER
    splitting: dedup-then-split is the fix when n_leaky > 0. Because the
    split is a PURE HASH of the id, it is recomputed as an expression on
    the pair table — no join against a corpus-sized assignment table
    (broadcasting one would be the tfidf-vocab mistake all over again)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    ).select("id_a", "id_b")

    def split_of(col: str):
        bucket = (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
            .cast("long") % 100
        )
        return (
            F.when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test")
        )

    return (
        pairs.select(
            split_of("id_a").alias("split_a"),
            split_of("id_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
            ).cast("bigint").alias("n_leaky"),
        )
        .orderBy("split_a", "split_b")
    )


@register("group_by_all_parity", oracle=_GROUP_BY_ALL_SQL)
def group_by_all_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the modern-SQL ergonomics both
    engines now share: one identical SQL string runs on Spark and DuckDB
    and must produce identical groups, order, and decimal-exact sums.
    Pins that Spark's ALL resolution (every non-aggregate select item)
    matches the de-facto standard."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUP_BY_ALL_SQL)


@register("subquery_decorrelation_breadth", oracle=_DECORRELATE_SQL)
def subquery_decorrelation_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in all three positions at once — the
    SELECT list (per-customer order count and a filtered sum) and the
    WHERE clause (above the per-nation average balance). Catalyst
    DECORRELATES each into an aggregate + join; none may execute as a
    per-row loop. One identical SQL string runs on both engines. The
    nation-average comparison is on raw doubles — identical inputs give
    identical comparisons, no arithmetic is stored."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_DECORRELATE_SQL)


@register(
    "attribution_linear_multi_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             CAST(value AS DECIMAL(18,6)) AS rev
      FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id AS cid, user_id, ts AS cts
      FROM events WHERE event_type = 'click'),
    touches AS (
      SELECT p.pid, p.rev, c.cid,
             COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts)
    SELECT cid AS click_id,
           COUNT(*) AS n_purchases_touched,
           ROUND(SUM(CAST(rev AS DOUBLE) / n_touch), 6) AS attributed_revenue
    FROM touches
    GROUP BY cid
    ORDER BY click_id
    """,
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's revenue is split
    equally across the user's clicks in the preceding hour (the range
    join the as-of family already pins), then rolled up per click. The
    per-touch share rev/n_touch divides a DECIMAL-cast revenue by an
    integer count — identical doubles in both engines — and each click's
    sum runs over its (tiny, deterministic) purchase set. The marketing
    warehouse's bread-and-butter query, expressed as one range join +
    one window + one aggregate."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.col("value").cast("decimal(18,6)").alias("rev"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cuser"),
        F.col("ts").alias("cts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("cuser") == F.col("user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
    ).select(
        "pid", "rev", "cid",
        F.count(F.lit(1)).over(Window.partitionBy("pid")).alias("n_touch"),
    )
    return (
        touches.groupBy(F.col("cid").alias("click_id"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases_touched"),
            F.round(
                F.sum(F.col("rev").cast("double") / F.col("n_touch")), 6
            ).alias("attributed_revenue"),
        )
        .orderBy("click_id")
    )


@register("parallel_variance_merge", oracle=_WELFORD_SQL)
def parallel_variance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-moments algebra behind every distributed variance:
    per-partition (n, Σx, Σx²) in exact DECIMAL merge by plain addition,
    and the merged sample variance must EQUAL the direct one (the
    merge_exact flag is computed inside the query, and the oracle
    re-derives everything). This is what lets var_samp run map-side
    partial aggregation; here the 'partitions' are an md5 hash split so
    the check is deterministic. Rounded sums keep the double casts
    exactly representable."""
    orders = _t(spark, sf_dir, "orders")
    halves = orders.select(
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                16, 10,
            ).cast("long") % 2
        ).alias("h"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )

    def moments(df: DataFrame, keys: list) -> DataFrame:
        g = df.groupBy(*keys) if keys else df.groupBy()
        return g.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.round(F.sum("x"), 2).cast("double").alias("s1"),
            F.round(F.sum((F.col("x") * F.col("x")).cast("decimal(30,4)")), 0)
            .cast("double")
            .alias("s2"),
        )

    m = moments(halves, ["h"])
    merged = m.agg(
        F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2")
    )
    direct = moments(halves, [])
    d = direct.select(
        F.col("n").alias("dn"), F.col("s1").alias("ds1"), F.col("s2").alias("ds2")
    )
    ssq = lambda n, s1, s2: (  # noqa: E731
        F.col(s2) - F.col(s1) * F.col(s1) / F.col(n)
    )
    return merged.crossJoin(F.broadcast(d)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(ssq("n", "s1", "s2") / (F.col("n") - 1), 4).alias(
            "merged_sample_var"
        ),
        F.round(ssq("dn", "ds1", "ds2") / (F.col("dn") - 1), 4).alias(
            "direct_sample_var"
        ),
        F.when(
            ssq("n", "s1", "s2") == ssq("dn", "ds1", "ds2"), 1
        ).otherwise(0).alias("merge_exact"),
    )


@register(
    "sequence_motif_top20",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1 || '>' || e2 || '>' || e3 AS motif,
           COUNT(*) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1 || '>' || e2 || '>' || e3
    ORDER BY n DESC, motif
    LIMIT 20
    """,
)
def sequence_motif_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral motifs: the top-20 contiguous length-3
    event-type subsequences across all user timelines — one window pass
    (two LEADs over the per-user order), one count aggregate. The
    sequence-mining primitive behind funnel discovery, without the
    exponential candidate generation of general sequential-pattern
    mining (contiguous motifs are a linear pass at any scale)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("motif")
        )
        .groupBy("motif")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "motif")
        .limit(20)
    )


@register(
    "survival_kaplan_meier",
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
             list(1 - CAST(d_i AS DOUBLE) / n_i ORDER BY t) AS fs
      FROM evt)
    SELECT CAST(ts_[j] AS INT) AS t_days,
           CAST(ds[j] AS BIGINT) AS n_events,
           CAST(ns[j] AS BIGINT) AS n_at_risk,
           ROUND(list_reduce(fs[1:j], (a, b) -> a * b), 6) AS km_survival
    FROM arr, UNNEST(range(1, len(fs) + 1)) AS u(j)
    ORDER BY t_days
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of time-to-first-purchase
    (days since each user's first event), with users who never purchase
    RIGHT-CENSORED at their last activity — real survival analysis, the
    statistically-correct replacement for naive time-to-conversion
    averages that silently drop non-converters. Risk sets are integer
    window sums; the survival curve is a product of per-event-time
    factors folded left-to-right over a time-ordered array, so the float
    products are bit-identical in both engines. One per-user aggregate +
    one tiny window: the curve table is event-time-sized, never
    corpus-sized."""
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
            "transform(arr, s -> CAST(1 AS DOUBLE) - CAST(s.d_i AS DOUBLE) / s.n_i)"
        ).alias("fs"),
    )
    ex = packed.select("fs", F.posexplode("arr").alias("j0", "s"))
    return ex.select(
        F.col("s.t").cast("int").alias("t_days"),
        F.col("s.d_i").cast("bigint").alias("n_events"),
        F.col("s.n_i").cast("bigint").alias("n_at_risk"),
        F.expr(
            "round(aggregate(slice(fs, 1, j0 + 1), CAST(1 AS DOUBLE), (a, x) -> a * x), 6)"
        ).alias("km_survival"),
    ).orderBy("t_days")


@register(
    "collation_case_insensitive_join",
    oracle="""
    WITH a AS (SELECT DISTINCT upper(p_brand) AS b FROM part),
    b AS (SELECT DISTINCT lower(p_brand) AS b FROM part)
    SELECT COUNT(*) AS n_matches,
           (SELECT COUNT(*) FROM a) AS n_left,
           (SELECT COUNT(*) FROM b) AS n_right
    FROM a JOIN b ON lower(a.b) = lower(b.b)
    """,
)
def collation_case_insensitive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface: an UPPER-cased and a lower-cased brand
    dimension joined under UTF8_LCASE collation must match exactly like
    an explicit lower()=lower() join (which is what the oracle runs) —
    pinning that collated equality is real equality semantics, usable in
    joins and aggregates, not just ORDER BY. Collation-aware equality is
    the engine-native answer to the lower()-wrapping that breaks
    predicate pushdown on case-insensitive business keys."""
    part = _t(spark, sf_dir, "part")
    a = part.select(F.upper("p_brand").alias("b")).distinct()
    b = part.select(F.lower("p_brand").alias("b2")).distinct()
    joined = a.join(
        b,
        F.expr("b COLLATE UTF8_LCASE = b2 COLLATE UTF8_LCASE"),
    )
    na = a.agg(F.count(F.lit(1)).alias("n_left"))
    nb = b.agg(F.count(F.lit(1)).alias("n_right"))
    return (
        joined.agg(F.count(F.lit(1)).alias("n_matches"))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )


@register(
    "ml_inference_iterator_udf",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    scored AS (
      SELECT vec_id,
             SUM(val * (((i - 1) * 37) % 100 - 50)) AS num
      FROM (SELECT vec_id, unnest(qv) AS val,
                   unnest(range(1, len(qv) + 1)) AS i FROM q)
      GROUP BY vec_id)
    SELECT vec_id, ROUND(CAST(num AS DOUBLE) / 100, 4) AS score
    FROM scored ORDER BY vec_id LIMIT 200
    """,
)
def ml_inference_iterator_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference through an ITERATOR pandas UDF — the deployment
    shape for scoring with a loaded model: the 'model' (a deterministic
    integer weight vector) is constructed ONCE per executor task, before
    the batch loop, and every Arrow batch reuses it — the amortization
    that makes per-partition model loading viable at scale (loading per
    row or per batch is the classic inference-pipeline bug). The dot
    product stays int64 inside numpy, so the UDF output is exact and the
    closed-form oracle reproduces it."""
    from pyspark.sql import types as T

    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")

    @F.pandas_udf(T.LongType())
    def score_num(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        # one-time per-task "model load": runs before the batch loop
        w = np.array([((i * 37) % 100) - 50 for i in range(64)], dtype=np.int64)
        for s in batches:
            mat = np.stack(s.to_numpy()).astype(np.int64)
            yield pd.Series(mat[:, : len(w)] @ w)

    return (
        q.select("vec_id", score_num("qv").alias("num"))
        .select(
            "vec_id",
            F.round(F.col("num").cast("double") / 100, 4).alias("score"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


@register(
    "pandas_udaf_language_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_sq_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def pandas_udaf_language_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GROUPED_AGG pandas UDF (the Arrow-batched custom aggregate —
    the numpy-side counterpart of a Catalyst UDAF) computing the sum of
    squared document lengths per language. Integer arithmetic inside
    numpy keeps the result order-independent, so the custom aggregate is
    value-checked like any built-in. This is the API for aggregations
    the built-ins can't express (sketch merges, model-state folds) while
    keeping Arrow transfer and map-side grouping."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def sum_sq(v: pd.Series) -> int:
        import numpy as np

        a = v.to_numpy(dtype="int64")
        return int((a * a).sum())

    docs = _t(spark, sf_dir, "documents")
    # GROUPED_AGG pandas UDFs cannot mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a separate
    # aggregate joined on the (tiny) group key
    custom = docs.groupBy("lang").agg(
        sum_sq("n_chars").cast("bigint").alias("sum_sq_chars")
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        custom.join(F.broadcast(counts), "lang")
        .select("lang", "n_docs", "sum_sq_chars")
        .orderBy("lang")
    )


@register(
    "observation_single_pass_metrics",
    oracle="""
    SELECT COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    """,
)
def observation_single_pass_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API (SURVEY §2.6 A1's mechanism, surfaced as a
    query): metrics ride ON the action itself — count, exact decimal
    sum, distinct users are observed during ONE pass over the events
    scan, with no second aggregation job. This is how the export
    pipeline reports its counters without re-reading the input; the
    oracle recomputes the same metrics relationally and the values must
    agree exactly."""
    from pyspark.sql import Observation

    ev = _t(spark, sf_dir, "events")
    obs = Observation("metrics")
    # DISTINCT aggregates are disallowed in observed metrics
    # (INVALID_OBSERVED_METRICS) — min/max/count/sum are the menu
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return spark.createDataFrame(
        [
            (
                int(got["n_events"]),
                float(round(got["sum_value"], 4)),
                int(got["min_event_id"]),
                int(got["max_event_id"]),
            )
        ],
        "n_events bigint, sum_value double, min_event_id bigint, "
        "max_event_id bigint",
    )


@register(
    "pandas_udaf_over_window",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, CAST(value * 100 AS BIGINT) AS cents,
             ts
      FROM events WHERE event_type = 'purchase')
    SELECT user_id, event_id,
           CAST(SUM(cents * cents) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rolling_sum_sq
    FROM v
    ORDER BY user_id, event_id
    LIMIT 500
    """,
)
def pandas_udaf_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GROUPED_AGG pandas UDF evaluated OVER A WINDOW FRAME — the
    custom-aggregate-as-window-function combination (Spark re-evaluates
    the Arrow aggregate per frame): a rolling 3-event sum of squared
    purchase cents per user. Cents are exact integers (value*100 rounds
    to the same int64 in numpy and both SQL engines because the doubles
    are identical), so the custom rolling aggregate carries a full value
    oracle."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def sum_sq(v: pd.Series) -> int:
        import numpy as np

        a = v.to_numpy(dtype="int64")
        return int((a * a).sum())

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        v.select(
            "user_id", "event_id",
            sum_sq("cents").over(w).cast("bigint").alias("rolling_sum_sq"),
        )
        .orderBy("user_id", "event_id")
        .limit(500)
    )


@register("regr_aggregate_family", oracle=_REGR_SQL)
def regr_aggregate_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI linear-regression aggregate family (regr_slope /
    intercept / r2 / count / avgx / avgy) grouped per return flag — one
    identical SQL string on both engines, complementing the
    normal-equations OLS query with the built-in single-feature path
    (these are map-side-combinable moment aggregates under the hood,
    which is why they exist as aggregates at all)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_REGR_SQL)


@register(
    "execute_immediate_param",
    oracle="""
    SELECT o_orderpriority AS priority, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM orders WHERE o_totalprice > 400000
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def execute_immediate_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized dynamic SQL through Spark 4's EXECUTE IMMEDIATE ...
    USING — the SQL-injection-safe templating surface (parameter markers
    bind server-side; no string splicing). The oracle is the statically
    bound equivalent, so the binding itself is what's verified."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """EXECUTE IMMEDIATE
           'SELECT o_orderpriority AS priority, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS total
            FROM orders WHERE o_totalprice > ?
            GROUP BY o_orderpriority ORDER BY priority'
           USING 400000"""
    )


@register(
    "preference_pair_construction",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source,
             (len(list_distinct(words)) * 1000000) // len(words) AS score
      FROM (SELECT doc_id, lang, source,
                   string_split_regex(regexp_replace(lower(trim(text)),
                                                     '\\s+', ' ', 'g'),
                                      ' ') AS words
            FROM documents)
      WHERE len(words) >= 1),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY score DESC, doc_id) AS rn_best,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY score ASC, doc_id) AS rn_worst,
             COUNT(*) OVER (PARTITION BY lang, source) AS n_grp
      FROM scored)
    SELECT b.lang AS lang, b.source AS source,
           b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
           CAST(b.score AS BIGINT) AS chosen_score,
           CAST(w.score AS BIGINT) AS rejected_score,
           CAST(b.score - w.score AS BIGINT) AS margin
    FROM ranked b JOIN ranked w
      ON b.lang = w.lang AND b.source = w.source
     AND b.rn_best = 1 AND w.rn_worst = 1
    WHERE b.n_grp >= 2 AND b.doc_id <> w.doc_id
    ORDER BY lang, source
    """,
)
def preference_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for reward-model / DPO-style training:
    within each (lang, source) bucket the highest- and lowest-quality
    documents (quality = integer-scaled distinct-word ratio, exact in
    both engines) become the (chosen, rejected) pair with its score
    margin. Buckets with fewer than 2 docs are skipped. Two ranking
    windows over one scored scan; at 100 TB the bucket key is the
    partition key and each window is a per-bucket top-1."""
    docs = _t(spark, sf_dir, "documents")
    scored = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            ).alias("words"),
        )
        .filter(F.size("words") >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            F.expr(
                "CAST(size(array_distinct(words)) * 1000000 AS BIGINT) div size(words)"
            ).alias("score"),
        )
    )
    wb = Window.partitionBy("lang", "source").orderBy(
        F.col("score").desc(), "doc_id"
    )
    ww = Window.partitionBy("lang", "source").orderBy(
        F.col("score").asc(), "doc_id"
    )
    wg = Window.partitionBy("lang", "source")
    ranked = scored.select(
        "*",
        F.row_number().over(wb).alias("rn_best"),
        F.row_number().over(ww).alias("rn_worst"),
        F.count(F.lit(1)).over(wg).alias("n_grp"),
    )
    b = ranked.filter((F.col("rn_best") == 1) & (F.col("n_grp") >= 2)).select(
        "lang",
        "source",
        F.col("doc_id").alias("chosen_doc"),
        F.col("score").alias("chosen_score"),
    )
    w = ranked.filter(F.col("rn_worst") == 1).select(
        F.col("lang").alias("wl"),
        F.col("source").alias("ws"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("score").alias("rejected_score"),
    )
    return (
        b.join(
            w,
            (F.col("lang") == F.col("wl")) & (F.col("source") == F.col("ws")),
        )
        .filter(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "lang",
            "source",
            "chosen_doc",
            "rejected_doc",
            F.col("chosen_score").cast("bigint").alias("chosen_score"),
            F.col("rejected_score").cast("bigint").alias("rejected_score"),
            (F.col("chosen_score") - F.col("rejected_score"))
            .cast("bigint")
            .alias("margin"),
        )
        .orderBy("lang", "source")
    )


@register(
    "length_grouped_batches",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(string_split_regex(regexp_replace(lower(trim(text)),
                                                   '\\s+', ' ', 'g'),
                                    ' ')) AS n_tok
      FROM documents),
    sorted_b AS (
      SELECT doc_id, n_tok,
             (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) // 32
               AS batch_id
      FROM toks),
    byid_b AS (
      SELECT doc_id, n_tok,
             (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id
      FROM toks),
    s AS (
      SELECT batch_id, COUNT(*) AS n_docs, MAX(n_tok) AS max_sorted,
             CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT)
               AS waste_sorted
      FROM sorted_b GROUP BY batch_id),
    i AS (
      SELECT batch_id, MAX(n_tok) AS max_byid,
             CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS waste_byid
      FROM byid_b GROUP BY batch_id)
    SELECT s.batch_id, s.n_docs,
           CAST(s.max_sorted AS BIGINT) AS max_sorted, s.waste_sorted,
           CAST(i.max_byid AS BIGINT) AS max_byid, i.waste_byid
    FROM s JOIN i ON s.batch_id = i.batch_id
    ORDER BY s.batch_id
    """,
)
def length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching (the dynamic-padding trick every training
    loader uses): documents sorted by token count form batches of 32,
    and per-batch padding waste (n*max - sum of lengths) is compared
    against naive arrival-order batching — the measured win of sorting.
    All integers. At 100 TB the global sort is one range exchange; the
    naive side exists only for the comparison and would be dropped in
    production."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            )
        ).alias("n_tok"),
    )
    ws = Window.orderBy(F.col("n_tok").desc(), "doc_id")
    wi = Window.orderBy("doc_id")
    sorted_b = toks.select(
        "n_tok",
        ((F.row_number().over(ws) - 1) / 32).cast("bigint").alias("batch_id"),
    )
    byid_b = toks.select(
        "n_tok",
        ((F.row_number().over(wi) - 1) / 32).cast("bigint").alias("batch_id"),
    )
    s = sorted_b.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").cast("bigint").alias("max_sorted"),
        (F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok"))
        .cast("bigint")
        .alias("waste_sorted"),
    )
    i = byid_b.groupBy("batch_id").agg(
        F.max("n_tok").cast("bigint").alias("max_byid"),
        (F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok"))
        .cast("bigint")
        .alias("waste_byid"),
    )
    return s.join(i, "batch_id").orderBy("batch_id")


@register(
    "training_shard_manifest",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(string_split_regex(regexp_replace(lower(trim(text)),
                                                   '\\s+', ' ', 'g'), ' '))
               AS n_tok,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 16 AS shard_id
      FROM documents)
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           CAST(bit_xor(doc_id) AS BIGINT) AS xor_fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM t GROUP BY shard_id ORDER BY shard_id
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard manifest a pretraining writer materializes next to its
    output: docs hash-assigned to 16 shards (stable under reprocessing,
    no shuffle skew — md5 spreads any doc_id distribution), per-shard
    doc/token/byte totals for balance monitoring, and an order-free
    XOR fingerprint + id range for cheap shard-content verification
    after a rewrite. One hash-aggregate; at 100 TB shard count scales
    with the cluster and this query is the writer's audit artifact."""
    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 16
    )
    t = docs.select(
        F.col("doc_id"),
        F.col("n_chars"),
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("n_tok"),
        shard.cast("int").alias("shard_id"),
    )
    return (
        t.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
            F.bit_xor("doc_id").cast("bigint").alias("xor_fingerprint"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .orderBy("shard_id")
    )


@register(
    "map_hof_breadth",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type),
    t AS (SELECT user_id, SUM(n) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id, c.event_type, CAST(c.n AS BIGINT) AS n_total,
           CAST((c.n * 1000) // t.tot AS BIGINT) AS share_permille
    FROM c JOIN t ON t.user_id = c.user_id
    ORDER BY c.user_id, c.event_type
    """,
)
def map_hof_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function breadth — the MapType algebra DuckDB
    doesn't have natively, verified by exploding back to rows: per-user
    event-type count maps built for each half of the month
    (map_from_entries), merged with map_zip_with (null-padded sum over
    the key union), normalized with transform_values (integer per-mille
    against the map's aggregate total), then map_entries + explode. The
    oracle computes the same numbers relationally — pinning that the
    map-side algebra loses nothing."""
    ev = _t(spark, sf_dir, "events")
    halves = (
        ev.select(
            "user_id",
            "event_type",
            (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias(
                "first_half"
            ),
        )
        .groupBy("user_id", "event_type", "first_half")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    maps = (
        halves.groupBy("user_id", "first_half")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "n")))
            ).alias("m")
        )
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("first_half", "m"))
            ).alias("byhalf")
        )
        .select(
            "user_id",
            F.expr(
                "map_zip_with("
                "  coalesce(element_at(byhalf, true), map()),"
                "  coalesce(element_at(byhalf, false), map()),"
                "  (k, v1, v2) -> coalesce(v1, 0L) + coalesce(v2, 0L))"
            ).alias("m"),
        )
        .select(
            "user_id",
            "m",
            F.expr(
                "aggregate(map_values(m), 0L, (acc, v) -> acc + v)"
            ).alias("tot"),
        )
        .select(
            "user_id",
            F.expr(
                "transform_values(m, (k, v) -> struct(v AS n, "
                "(v * 1000) div tot AS pm))"
            ).alias("shares"),
        )
    )
    return (
        maps.select(
            "user_id",
            F.explode(F.expr("map_entries(shares)")).alias("e"),
        )
        .select(
            "user_id",
            F.col("e.key").alias("event_type"),
            F.col("e.value.n").cast("bigint").alias("n_total"),
            F.col("e.value.pm").cast("bigint").alias("share_permille"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "spatial_grid_neighbor_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 15)
                  AS BIGINT) % 10000 AS x,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 15)
                  AS BIGINT) % 10000 AS y
      FROM customer),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 22500)
    SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY d2, id_a, id_b) AS rn
          FROM pairs)
    WHERE rn <= 20 ORDER BY d2, id_a, id_b
    """,
)
def spatial_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join by GRID BLOCKING — the all-pairs killer for
    point data at scale: md5-derived integer coordinates bucket into
    radius-sized cells, each point probes its 3x3 cell neighborhood
    (equi-join on cell id, 9 candidate cells), and the exact integer
    L2 filter runs only on candidates. Cost is sum of cell-pair sizes,
    not n² — the same blocking idea as LSH buckets, in 2-D. The oracle
    brute-forces the same radius query (gate-sized input), so grid
    completeness — a neighbor can never be more than one cell away —
    is what's being verified."""
    cust = _t(spark, sf_dir, "customer")
    coord = (
        "CAST(conv(substr(md5(concat(cast(c_custkey as string), ':{ax}')), 1, 15), 16, 10) "
        "AS BIGINT) % 10000"
    )
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        F.expr(coord.format(ax="x")).alias("x"),
        F.expr(coord.format(ax="y")).alias("y"),
    )
    pts = op_cache.reuse(pts)
    cell = pts.select(
        "id", "x", "y",
        (F.col("x") / 150).cast("long").alias("cx"),
        (F.col("y") / 150).cast("long").alias("cy"),
    )
    probes = cell.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                "flatten(transform(array(-1, 0, 1), "
                "dx -> transform(array(-1, 0, 1), "
                "dy -> struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("id_a", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    cand = probes.join(
        cell.select(
            F.col("id").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            "cx",
            "cy",
        ),
        ["cx", "cy"],
    ).filter(F.col("id_a") < F.col("id_b"))
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    pairs = cand.select("id_a", "id_b", d2.alias("d2")).filter(
        F.col("d2") <= 22500
    )
    w = Window.orderBy("d2", "id_a", "id_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("id_a", "id_b", F.col("d2").cast("bigint").alias("d2"))
        .orderBy("d2", "id_a", "id_b")
    )


@register(
    "phrase_search_positional",
    oracle="""
    WITH pos AS (
      SELECT doc_id, CAST(u.i AS INT) AS p, words[u.i] AS w
      FROM (SELECT doc_id,
                   string_split_regex(regexp_replace(lower(trim(text)),
                                                     '\\s+', ' ', 'g'),
                                      ' ') AS words
            FROM documents) t,
           UNNEST(range(1, len(words) + 1)) AS u(i)),
    top2 AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
      FROM pos GROUP BY w),
    w1 AS (SELECT w FROM top2 WHERE rk = 1),
    w2 AS (SELECT w FROM top2 WHERE rk = 2),
    occ AS (
      SELECT a.doc_id, COUNT(*) AS n_occ
      FROM pos a JOIN pos b
        ON b.doc_id = a.doc_id AND b.p = a.p + 1
      WHERE a.w = (SELECT w FROM w1) AND b.w = (SELECT w FROM w2)
      GROUP BY a.doc_id)
    SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ,
           (SELECT w FROM w1) AS term_1, (SELECT w FROM w2) AS term_2
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_occ DESC, doc_id) AS rn
          FROM occ)
    WHERE rn <= 20 ORDER BY n_occ DESC, doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search (the IR operator BM25 can't do):
    (doc, position, term) postings self-joined on position adjacency
    find exact occurrences of the corpus's two most frequent words as a
    phrase. The phrase is data-derived (top-2 terms, deterministic
    tiebreak) so the query is non-trivially non-empty at every SF. At
    100 TB the postings join is an equi-join on (doc, position) after
    term-selective filters — the standard sharded positional-index
    probe."""
    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    pos = op_cache.reuse(pos)
    top = (
        pos.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(2)
        .collect()
    )
    w1, w2 = top[0]["w"], top[1]["w"]
    a = pos.filter(F.col("w") == w1).select("doc_id", "p")
    b = pos.filter(F.col("w") == w2).select(
        F.col("doc_id").alias("db"), F.col("p").alias("pb")
    )
    occ = (
        a.join(b, (F.col("db") == F.col("doc_id")) & (F.col("pb") == F.col("p") + 1))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.orderBy(F.desc("n_occ"), "doc_id")
    return (
        occ.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "doc_id",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            F.lit(w1).alias("term_1"),
            F.lit(w2).alias("term_2"),
        )
        .orderBy(F.desc("n_occ"), "doc_id")
    )


@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt_ts
      FROM events),
    train AS (
      SELECT event_type AS prev, nxt FROM seq
      WHERE nxt IS NOT NULL AND nxt_ts < TIMESTAMP '2024-01-16'),
    model AS (
      SELECT prev, nxt AS predicted FROM (
        SELECT prev, nxt, ROW_NUMBER() OVER (
          PARTITION BY prev ORDER BY COUNT(*) DESC, nxt) AS rk
        FROM train GROUP BY prev, nxt) WHERE rk = 1),
    test AS (
      SELECT event_type AS prev, nxt FROM seq
      WHERE nxt IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
    scored AS (
      SELECT t.prev, t.nxt, m.predicted FROM test t
      LEFT JOIN model m ON m.prev = t.prev)
    SELECT prev AS prev_type,
           COUNT(*) AS n_transitions,
           CAST(SUM(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
    FROM scored GROUP BY prev ORDER BY prev
    """,
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split model evaluation in one lazy plan: a first-order
    Markov next-event predictor trained on pre-cut transitions (argmax
    next type per previous type, deterministic tiebreak) and scored on
    post-cut transitions via broadcast of the 4-row model — the
    train/evaluate harness shape every behavioral model ships with.
    Transitions assign to train/test by the time of the TARGET event, so
    the split leaks nothing backward."""
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lead("event_type").over(wseq).alias("nxt"),
        F.lead("ts").over(wseq).alias("nxt_ts"),
    ).filter(F.col("nxt").isNotNull())
    seq = op_cache.reuse(seq)
    cut = F.lit("2024-01-16").cast("timestamp")
    train = seq.filter(F.col("nxt_ts") < cut).select(
        F.col("event_type").alias("prev"), "nxt"
    )
    wm = Window.partitionBy("prev").orderBy(F.desc("n"), "nxt")
    model = (
        train.groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select(F.col("prev").alias("mprev"), F.col("nxt").alias("predicted"))
    )
    test = seq.filter(F.col("ts") >= cut).select(
        F.col("event_type").alias("prev"), "nxt"
    )
    scored = test.join(
        F.broadcast(model), test.prev == model.mprev, "left"
    )
    return (
        scored.groupBy(F.col("prev").alias("prev_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(F.when(F.col("predicted").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("prev_type")
    )


@register(
    "entity_resolution_canonicalize",
    oracle="""
    WITH RECURSIVE
    pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    comp AS (SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id),
    clusters AS (
      SELECT canonical_id, COUNT(*) AS n_members FROM comp
      GROUP BY canonical_id)
    SELECT c.canonical_id, c.n_members, p.p_name AS canonical_name
    FROM clusters c JOIN part p ON p.p_partkey = c.canonical_id
    ORDER BY c.n_members DESC, c.canonical_id
    LIMIT 20
    """,
)
def entity_resolution_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution pipeline: blocked fuzzy candidate pairs
    (brand block, Levenshtein <= 2) -> connected components -> one
    canonical record per entity cluster (min id, its name carried as the
    survivor). Composes the blocking join with the same CC machinery the
    dedup path uses — match, cluster, canonicalize is the ER end-game a
    master-data pipeline runs at 100 TB, and every stage here is
    value-checked through the recursive-closure oracle."""
    from ..streaming.stateful import _scoped_shuffle_partitions

    part = _t(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_b"),
    )
    pairs = (
        a.join(b, "brand")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b").between(1, 2))
        .select("id_a", "id_b")
    )
    with _scoped_shuffle_partitions(spark, 32):
        comp = dedup_mod.connected_components(pairs, "id_a", "id_b")
    clusters = comp.groupBy(F.col("component").alias("canonical_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    names = part.select(
        F.col("p_partkey").alias("canonical_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return (
        clusters.join(names, "canonical_id")
        .select("canonical_id", "n_members", "canonical_name")
        .orderBy(F.desc("n_members"), "canonical_id")
        .limit(20)
    )


@register(
    "crossval_fold_assignment",
    oracle="""
    WITH f AS (
      SELECT vec_id, label,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':fold'), 1, 15)
                  AS BIGINT) % 5 AS fold_id
      FROM embeddings)
    SELECT CAST(fold_id AS INT) AS fold_id, label,
           COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 SUM(COUNT(*)) OVER (PARTITION BY fold_id), 6) AS frac_in_fold
    FROM f GROUP BY fold_id, label
    ORDER BY fold_id, label
    """,
)
def crossval_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by salted md5 —
    reproducible across reruns and engines, no shuffle to assign — with
    the per-fold class-balance audit (label share within each fold) that
    decides whether plain hashing suffices or stratified folds are
    needed. Window-over-aggregate computes the within-fold shares in the
    same pass."""
    emb = _t(spark, sf_dir, "embeddings")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":fold"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    wf = Window.partitionBy("fold_id")
    return (
        emb.select(fold.cast("int").alias("fold_id"), "label")
        .groupBy("fold_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "fold_id",
            "label",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(wf), 6
            ).alias("frac_in_fold"),
        )
        .orderBy("fold_id", "label")
    )


@register(
    "dbscan_grid_clusters",
    oracle="""
    WITH RECURSIVE
    pts AS (
      SELECT c_custkey AS id,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 15)
                  AS BIGINT) % 2000 AS x,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 15)
                  AS BIGINT) % 2000 AS y
      FROM customer),
    nbr AS (
      SELECT a.id AS ia, b.id AS ib
      FROM pts a JOIN pts b ON a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 22500),
    deg AS (SELECT ia AS id, COUNT(*) AS n FROM nbr GROUP BY ia),
    core AS (SELECT id FROM deg WHERE n + 1 >= 4),
    cedge AS (
      SELECT n.ia, n.ib FROM nbr n
      JOIN core ca ON ca.id = n.ia JOIN core cb ON cb.id = n.ib),
    reach(id, r) AS (
      SELECT id, id FROM core
      UNION
      SELECT reach.id, e.ib FROM reach JOIN cedge e ON reach.r = e.ia),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    border AS (
      SELECT n.ia AS id, MIN(c.cluster_id) AS cluster_id
      FROM nbr n
      JOIN comp c ON c.id = n.ib
      WHERE n.ia NOT IN (SELECT id FROM core)
      GROUP BY n.ia),
    counts AS (
      SELECT cluster_id,
             CAST(SUM(is_core) AS BIGINT) AS n_core,
             CAST(SUM(1 - is_core) AS BIGINT) AS n_border
      FROM (SELECT cluster_id, 1 AS is_core FROM comp
            UNION ALL SELECT cluster_id, 0 FROM border) u
      GROUP BY cluster_id)
    SELECT cluster_id, n_core, n_border FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY n_core + n_border DESC, cluster_id) AS rn
      FROM counts)
    WHERE rn <= 20 ORDER BY n_core + n_border DESC, cluster_id
    """,
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering, the distributed way: eps-sized grid
    cells block the neighbor search (3x3 probe join, exact integer L2 on
    candidates only), core points (>= minPts=4 in the closed eps-ball)
    link into clusters via connected components, border points attach to
    their minimum neighboring core cluster, everything else is noise.
    All-integer geometry makes every stage value-checkable; the oracle
    brute-forces the same definition. At scale: neighbor cost is sum of
    cell-pair sizes, CC is the O(log n) star machinery — no stage is
    quadratic in n."""
    from ..streaming.stateful import _scoped_shuffle_partitions

    cust = _t(spark, sf_dir, "customer")
    coord = (
        "CAST(conv(substr(md5(concat(cast(c_custkey as string), ':{ax}')), 1, 15), 16, 10) "
        "AS BIGINT) % 2000"
    )
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        F.expr(coord.format(ax="x")).alias("x"),
        F.expr(coord.format(ax="y")).alias("y"),
    )
    pts = op_cache.reuse(pts)
    cell = pts.select(
        "id", "x", "y",
        (F.col("x") / 150).cast("long").alias("cx"),
        (F.col("y") / 150).cast("long").alias("cy"),
    )
    probes = cell.select(
        F.col("id").alias("ia"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                "flatten(transform(array(-1, 0, 1), "
                "dx -> transform(array(-1, 0, 1), "
                "dy -> struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("ia", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    nbr = (
        probes.join(
            cell.select(
                F.col("id").alias("ib"),
                F.col("x").alias("xb"),
                F.col("y").alias("yb"),
                "cx",
                "cy",
            ),
            ["cx", "cy"],
        )
        .filter(F.col("ia") != F.col("ib"))
        .filter(d2 <= 22500)
        .select("ia", "ib")
    )
    nbr = op_cache.reuse(nbr)
    deg = nbr.groupBy(F.col("ia").alias("id")).agg(F.count(F.lit(1)).alias("n"))
    core = deg.filter(F.col("n") + 1 >= 4).select("id")
    core = op_cache.reuse(core)
    cedge = (
        nbr.join(core.withColumnRenamed("id", "ia"), "ia")
        .join(core.withColumnRenamed("id", "ib"), "ib")
        .select("ia", "ib")
    )
    with _scoped_shuffle_partitions(spark, 32):
        comp = dedup_mod.connected_components(cedge, "ia", "ib", nodes=core)
    comp = comp.select("id", F.col("component").alias("cluster_id"))
    border = (
        nbr.join(core.withColumnRenamed("id", "ia"), "ia", "left_anti")
        .join(comp.withColumnRenamed("id", "ib"), "ib")
        .groupBy(F.col("ia").alias("id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    counts = (
        comp.select("cluster_id", F.lit(1).alias("is_core"))
        .unionByName(border.select("cluster_id", F.lit(0).alias("is_core")))
        .groupBy("cluster_id")
        .agg(
            F.sum("is_core").cast("bigint").alias("n_core"),
            F.sum(1 - F.col("is_core")).cast("bigint").alias("n_border"),
        )
    )
    w = Window.orderBy(
        F.desc(F.col("n_core") + F.col("n_border")), "cluster_id"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("cluster_id", "n_core", "n_border")
        .orderBy(F.desc(F.col("n_core") + F.col("n_border")), "cluster_id")
    )


@register(
    "quantile_normalize_doclen",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM documents),
    g AS (
      SELECT n_chars AS gval,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr,
             COUNT(*) OVER () AS n
      FROM documents),
    mapped AS (
      SELECT t.doc_id, t.source, t.n_chars,
             g.gval AS norm_len
      FROM t JOIN g
        ON g.gr = ((t.r * g.n + t.ns - 1) // t.ns))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_raw,
           CAST(SUM(norm_len) AS BIGINT) AS sum_normalized,
           CAST(SUM(ABS(norm_len - n_chars)) AS BIGINT) AS total_shift
    FROM mapped GROUP BY source ORDER BY source
    """,
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the batch-effect
    correction step before mixing corpora): each document's length maps
    to the pooled distribution's value at the equivalent rank
    (ceil(r/ns * N), integer selection — no interpolation, so every
    mapped value is an actual observed length and both engines agree
    exactly). Two rank windows and one equi-join on rank; per-source
    sums report how much each source's length profile had to shift."""
    docs = _t(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wsc = Window.partitionBy("source")
    t = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(wsc).alias("ns"),
    )
    wg = Window.orderBy("n_chars", "doc_id")
    g = docs.select(
        F.col("n_chars").alias("gval"),
        F.row_number().over(wg).alias("gr"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    mapped = t.join(
        g,
        F.col("gr")
        == ((F.col("r") * F.col("n") + F.col("ns") - 1) / F.col("ns")).cast(
            "long"
        ),
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_raw"),
            F.sum("gval").cast("bigint").alias("sum_normalized"),
            F.sum(F.abs(F.col("gval") - F.col("n_chars")))
            .cast("bigint")
            .alias("total_shift"),
        )
        .orderBy("source")
    )


@register(
    "functional_dependency_audit",
    oracle="""
    WITH cands AS (
      SELECT 'n_nationkey->n_regionkey' AS fd, n_nationkey AS lhs,
             CAST(n_regionkey AS VARCHAR) AS rhs FROM nation
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment', c_nationkey,
             c_mktsegment FROM customer
      UNION ALL
      SELECT 'o_custkey->o_orderpriority', o_custkey,
             o_orderpriority FROM orders),
    per_lhs AS (
      SELECT fd, lhs, COUNT(DISTINCT rhs) AS n_rhs, COUNT(*) AS n_rows
      FROM cands GROUP BY fd, lhs)
    SELECT fd,
           COUNT(*) AS n_lhs_values,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_rows_in_violation,
           CASE WHEN SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS holds
    FROM per_lhs GROUP BY fd ORDER BY fd
    """,
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery/validation (schema-quality audit):
    candidate FDs checked by counting distinct right-hand values per
    left-hand value — nation->region must hold (keyed dimension),
    customer-nation->segment and customer->priority must fail (showing
    the audit finds real violations, not just confirms keys). One
    union'd scan and two hash aggregates per candidate; at 100 TB each
    FD check is a distinct-count shuffle on the LHS."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cands = (
        nation.select(
            F.lit("n_nationkey->n_regionkey").alias("fd"),
            F.col("n_nationkey").alias("lhs"),
            F.col("n_regionkey").cast("string").alias("rhs"),
        )
        .unionByName(
            cust.select(
                F.lit("c_nationkey->c_mktsegment").alias("fd"),
                F.col("c_nationkey").alias("lhs"),
                F.col("c_mktsegment").alias("rhs"),
            )
        )
        .unionByName(
            orders.select(
                F.lit("o_custkey->o_orderpriority").alias("fd"),
                F.col("o_custkey").alias("lhs"),
                F.col("o_orderpriority").alias("rhs"),
            )
        )
    )
    per_lhs = cands.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").alias("n_rhs"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        per_lhs.groupBy("fd")
        .agg(
            F.count(F.lit(1)).alias("n_lhs_values"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_in_violation"),
            F.when(
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)) == 0, 1
            )
            .otherwise(0)
            .alias("holds"),
        )
        .orderBy("fd")
    )


@register(
    "cep_pattern_detection",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
          FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT v.user_id, v.view_id, v.vts, p.purchase_id, p.pts,
             ROW_NUMBER() OVER (PARTITION BY v.view_id
                                ORDER BY p.pts, p.purchase_id) AS rn
      FROM v JOIN p ON p.user_id = v.user_id
       AND p.pts > v.vts AND p.pts <= v.vts + INTERVAL 30 MINUTE),
    first_p AS (SELECT * FROM cand WHERE rn = 1),
    matched AS (
      SELECT f.user_id, f.view_id, f.purchase_id,
             CAST(epoch_ms(f.pts) - epoch_ms(f.vts) AS BIGINT) AS latency_ms
      FROM first_p f
      WHERE NOT EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click' AND c.user_id = f.user_id
          AND c.ts > f.vts AND c.ts < f.pts))
    SELECT user_id, view_id, purchase_id, latency_ms
    FROM matched ORDER BY user_id, view_id
    """,
)
def cep_pattern_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern matching (the MATCH_RECOGNIZE /
    Flink-CEP shape Spark has no primitive for): VIEW followed by
    PURCHASE within 30 minutes with NO CLICK strictly between — the
    'direct conversion' pattern. Expressed relationally: bounded-range
    join to the first qualifying purchase (row_number, deterministic
    tiebreak), then a negation anti-join for the forbidden middle
    event. All joins are equi-joins on user_id with range predicates —
    the state a true CEP engine would hold per key maps here to one
    co-partitioned shuffle."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    cand = v.join(
        p,
        (F.col("pu") == F.col("user_id"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 30 MINUTES")),
    )
    wf = Window.partitionBy("view_id").orderBy("pts", "purchase_id")
    first_p = (
        cand.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select("user_id", "view_id", "vts", "purchase_id", "pts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    blocked = first_p.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") > F.col("vts"))
        & (F.col("cts") < F.col("pts")),
        "left_semi",
    )
    matched = first_p.join(
        blocked.select(F.col("view_id").alias("bv")),
        F.col("view_id") == F.col("bv"),
        "left_anti",
    )
    return matched.select(
        "user_id",
        "view_id",
        "purchase_id",
        (
            (F.unix_millis(F.col("pts")) - F.unix_millis(F.col("vts")))
        ).cast("bigint").alias("latency_ms"),
    ).orderBy("user_id", "view_id")


@register(
    "cdc_tombstone_merge",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'purchase' THEN 'D'
                             WHEN 'click' THEN 'U' ELSE 'I' END AS op,
             value
      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    latest AS (
      SELECT user_id, op, value, ts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM log) WHERE rn = 1)
    SELECT user_id, ts AS last_ts, ROUND(value, 6) AS last_value
    FROM latest WHERE op <> 'D'
    ORDER BY user_id
    """,
)
def cdc_tombstone_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge WITH DELETES: a change log of inserts/updates/tombstones
    (derived deterministically from event types) folds to final state by
    latest-op-per-key — keys whose most recent operation is a tombstone
    vanish from the serving table entirely, the delete semantics an
    upsert-only merge silently gets wrong. One window (or max_by
    aggregate at scale) plus a filter; the tombstone filter applies
    AFTER picking the latest op, never before."""
    ev = _t(spark, sf_dir, "events")
    log = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "D")
        .when(F.col("event_type") == "click", "U")
        .otherwise("I")
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        latest.filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.round("value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


@register(
    "data_budget_epoch_allocation",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(
                    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')))
                  AS BIGINT) AS toks
      FROM documents GROUP BY source),
    w AS (
      SELECT source, toks,
             CAST(FLOOR(SQRT(CAST(toks AS DOUBLE)) * 1000) AS BIGINT) AS wt
      FROM t),
    tot AS (
      SELECT CAST(SUM(toks) AS BIGINT) // 2 AS budget,
             CAST(SUM(wt) AS BIGINT) AS wsum
      FROM w),
    r1 AS (
      SELECT w.source, w.toks, w.wt,
             LEAST((tot.budget * w.wt) // tot.wsum, 4 * w.toks) AS capped,
             CASE WHEN (tot.budget * w.wt) // tot.wsum >= 4 * w.toks
                  THEN 1 ELSE 0 END AS is_capped
      FROM w, tot),
    l AS (
      SELECT (SELECT budget FROM tot) - CAST(SUM(capped) AS BIGINT)
               AS leftover,
             CAST(SUM(CASE WHEN is_capped = 0 THEN wt ELSE 0 END) AS BIGINT)
               AS wsum_open
      FROM r1)
    SELECT r1.source, r1.toks AS source_tokens, r1.wt AS weight,
           CAST(LEAST(r1.capped +
                      CASE WHEN r1.is_capped = 0 AND l.wsum_open > 0
                           THEN (l.leftover * r1.wt) // l.wsum_open
                           ELSE 0 END,
                      4 * r1.toks) AS BIGINT) AS final_alloc,
           CAST((LEAST(r1.capped +
                      CASE WHEN r1.is_capped = 0 AND l.wsum_open > 0
                           THEN (l.leftover * r1.wt) // l.wsum_open
                           ELSE 0 END,
                      4 * r1.toks) * 1000) // r1.toks AS BIGINT)
             AS epochs_permille
    FROM r1, l ORDER BY r1.source
    """,
)
def data_budget_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture allocation (the Muennighoff-style
    epoch-capped water-fill): a token budget (half the corpus) is split
    across sources by temperature-smoothed weights (sqrt of source
    tokens, floored to integer per-mille so every subsequent sum and
    division is EXACT integer arithmetic), sources hitting the 4-epoch
    repetition cap are clamped, and one redistribution round water-fills
    the leftover over uncapped sources. Output: per-source allocation
    and repetition factor in per-mille epochs."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("n_tok"),
    ).groupBy("source").agg(F.sum("n_tok").cast("bigint").alias("toks"))
    w = t.select(
        "source",
        "toks",
        F.floor(F.sqrt(F.col("toks").cast("double")) * 1000)
        .cast("bigint")
        .alias("wt"),
    )
    w = op_cache.reuse(w)
    tot = w.agg(
        (F.sum("toks").cast("bigint") / 2).cast("bigint").alias("budget"),
        F.sum("wt").cast("bigint").alias("wsum"),
    )
    r1 = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        "wt",
        F.least(
            F.expr("(budget * wt) div wsum"), F.lit(4) * F.col("toks")
        ).alias("capped"),
        F.when(
            F.expr("(budget * wt) div wsum") >= F.lit(4) * F.col("toks"), 1
        )
        .otherwise(0)
        .alias("is_capped"),
        "budget",
    )
    r1 = op_cache.reuse(r1)
    l = r1.agg(
        (F.max("budget") - F.sum("capped")).cast("bigint").alias("leftover"),
        F.sum(F.when(F.col("is_capped") == 0, F.col("wt")).otherwise(0))
        .cast("bigint")
        .alias("wsum_open"),
    )
    final_alloc = F.least(
        F.col("capped")
        + F.when(
            (F.col("is_capped") == 0) & (F.col("wsum_open") > 0),
            F.expr("(leftover * wt) div wsum_open"),
        ).otherwise(0),
        F.lit(4) * F.col("toks"),
    )
    return (
        r1.crossJoin(F.broadcast(l))
        .select(
            "source",
            F.col("toks").alias("source_tokens"),
            F.col("wt").alias("weight"),
            final_alloc.cast("bigint").alias("final_alloc"),
            F.expr(
                "CAST((least(capped + CASE WHEN is_capped = 0 AND wsum_open > 0 "
                "THEN (leftover * wt) div wsum_open ELSE 0 END, 4 * toks) * 1000) "
                "div toks AS BIGINT)"
            ).alias("epochs_permille"),
        )
        .orderBy("source")
    )


@register(
    "chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st, COUNT(*) AS o
      FROM orders GROUP BY pr, st),
    tot AS (
      SELECT pr, st, o,
             SUM(o) OVER (PARTITION BY pr) AS r,
             SUM(o) OVER (PARTITION BY st) AS c,
             SUM(o) OVER () AS n
      FROM cells),
    terms AS (
      SELECT pr, st,
             CAST((o * n - r * c) AS DOUBLE) * (o * n - r * c) /
             (CAST(n AS DOUBLE) * r * c) AS term,
             n
      FROM tot),
    folded AS (
      SELECT MAX(n) AS n,
             (SELECT COUNT(DISTINCT pr) FROM cells) AS nr,
             (SELECT COUNT(DISTINCT st) FROM cells) AS nc,
             list_reduce(list(term ORDER BY pr, st), (a, b) -> a + b)
               AS chi2
      FROM terms)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((nr - 1) * (nc - 1) AS INT) AS dof,
           ROUND(chi2, 6) AS chi_square
    FROM folded
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence (order priority x status):
    each cell's term is computed from EXACT integer observed/marginal
    counts as (On - rc)^2 / (n r c), and the ~20 terms fold in fixed
    (priority, status) order on both engines so the float sum is
    order-identical. Marginals come from windows over the cell
    aggregate — one scan, no second pass."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("pr")
    wc = Window.partitionBy("st")
    wg = Window.partitionBy()
    tot = cells.select(
        "pr",
        "st",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wg).alias("n"),
    )
    terms = tot.select(
        "pr",
        "st",
        "n",
        (
            (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
            * (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
            / (F.col("n").cast("double") * F.col("r") * F.col("c"))
        ).alias("term"),
    )
    folded = terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("pr").alias("nr"),
        F.countDistinct("st").alias("nc"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pr, st, term))), "
            "cast(0 as double), (acc, e) -> acc + e.term)"
        ).alias("chi2"),
    )
    return folded.select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
        F.round("chi2", 6).alias("chi_square"),
    )


@register(
    "attribution_time_decay",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT p.purchase_id, p.value, c.event_id AS click_id,
             CAST(1 AS BIGINT) <<
               (20 - LEAST((epoch_ms(p.pts) - epoch_ms(c.ts)) //
                           43200000, 20)) AS w
      FROM p JOIN events c
        ON c.event_type = 'click' AND c.user_id = p.user_id
       AND c.ts <= p.pts AND c.ts >= p.pts - INTERVAL 10 DAY),
    norm AS (
      SELECT purchase_id, value, click_id, w,
             SUM(w) OVER (PARTITION BY purchase_id) AS wsum
      FROM touch),
    credit AS (
      SELECT click_id,
             ROUND(list_reduce(
               list(CAST(value AS DOUBLE) * w / wsum ORDER BY purchase_id),
               (a, b) -> a + b), 6) AS credited_value,
             COUNT(*) AS n_purchases
      FROM norm GROUP BY click_id)
    SELECT click_id, credited_value, n_purchases
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY credited_value DESC, click_id) AS rn FROM credit)
    WHERE rn <= 20 ORDER BY credited_value DESC, click_id
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: each purchase's value splits
    over its preceding 10 days of clicks with half-life-12h weights —
    and the decay weights are EXACT powers of two (1 << (20 - age/12h)),
    so the per-purchase weight normalization is integer/decimal-exact
    rational arithmetic, not a drifting exp(). The scale shape is the
    bounded-interval join (equi on user, 10-day range) plus one window
    per purchase."""
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
    ).select(
        "purchase_id",
        "value",
        "click_id",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), "
            "20 - CAST(LEAST((unix_millis(pts) - unix_millis(cts)) div 43200000, "
            "20) AS INT))"
        ).alias("w"),
    )
    wn = Window.partitionBy("purchase_id")
    norm = touch.select(
        "purchase_id",
        "value",
        "click_id",
        "w",
        F.sum("w").over(wn).alias("wsum"),
    )
    # per-touch terms are doubles ((value * w) / wsum — identical op
    # order both engines) folded purchase-ascending so the float sum is
    # order-identical; decimal division would round at engine-specific
    # internal scales and drift in the 6th decimal
    credit = norm.groupBy("click_id").agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(purchase_id, "
                "CAST(value AS DOUBLE) * w / wsum AS term))), "
                "cast(0 as double), (acc, e) -> acc + e.term)"
            ),
            6,
        ).alias("credited_value"),
        F.count(F.lit(1)).alias("n_purchases"),
    )
    wr = Window.orderBy(F.desc("credited_value"), "click_id")
    return (
        credit.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("click_id", "credited_value", "n_purchases")
        .orderBy(F.desc("credited_value"), "click_id")
    )


@register(
    "gapped_sequence_support",
    oracle="""
    WITH pos AS (
      SELECT user_id, event_type,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY user_id, event_type),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             COUNT(*) AS support
      FROM pos a JOIN pos b
        ON b.user_id = a.user_id AND b.event_type <> a.event_type
      WHERE a.first_ts < b.last_ts
      GROUP BY a.event_type, b.event_type)
    SELECT t1, t2, CAST(support AS BIGINT) AS support
    FROM pairs ORDER BY support DESC, t1, t2
    LIMIT 20
    """,
)
def gapped_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped sequential-pattern support (the PrefixSpan counting core):
    for every ordered type pair (X, Y), the number of users with SOME X
    before SOME Y — decided exactly by first(X) < last(Y), so the whole
    gapped-containment check collapses to one (user, type) min/max
    aggregate and a per-user type self-join (|types|² rows per user,
    never the event sequence itself)."""
    ev = _t(spark, sf_dir, "events")
    pos = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    a = pos.select(
        "user_id", F.col("event_type").alias("t1"), "first_ts"
    )
    b = pos.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("t2"),
        "last_ts",
    )
    return (
        a.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("t1") != F.col("t2"))
            & (F.col("first_ts") < F.col("last_ts")),
        )
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.desc("support"), "t1", "t2")
        .limit(20)
    )


@register("hybrid_rrf_fusion", oracle=_rrf_fusion_oracle())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion of the lexical (BM25
    top-15 for the fixed query) and semantic (exact cosine top-15 for
    probe vector 0) rankings, the standard two-tower search merge. RRF
    contributions are integers (1000000 div (60 + rank)) so the fusion
    itself is exact; both input rankings are the already-value-checked
    scorers, composed. Full-outer on doc id: appearing in either list
    scores, appearing in both wins."""
    bm_raw = bm25_search_topk(spark, sf_dir)
    wb = Window.orderBy(F.desc("bm25"), "doc_id")
    bm = bm_raw.withColumn("rnk", F.row_number().over(wb)).select(
        F.col("doc_id").alias("bd"), F.col("rnk").alias("brnk")
    )
    emb = _t(spark, sf_dir, "embeddings")
    cs = sim_mod.cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=15
    ).select(F.col("neighbor_id").alias("cd"), F.col("rank").alias("crnk"))
    fused = bm.join(cs, F.col("cd") == F.col("bd"), "full_outer").select(
        F.coalesce(F.col("bd"), F.col("cd")).alias("doc_id"),
        (
            F.coalesce(F.expr("1000000 div (60 + brnk)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + crnk)"), F.lit(0))
        ).alias("rrf"),
    )
    wr = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 10)
        .select("doc_id", F.col("rrf").cast("bigint").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
    )


@register(
    "apriori_triple_itemsets",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    pairs AS (
      SELECT a.b AS b1, c.b AS b2, COUNT(*) AS sup
      FROM baskets a JOIN baskets c ON c.o = a.o AND a.b < c.b
      GROUP BY a.b, c.b HAVING COUNT(*) >= 3),
    cand AS (
      SELECT p1.b1, p1.b2, p2.b2 AS b3
      FROM pairs p1 JOIN pairs p2
        ON p2.b1 = p1.b1 AND p2.b2 > p1.b2
      WHERE EXISTS (SELECT 1 FROM pairs p3
                    WHERE p3.b1 = p1.b2 AND p3.b2 = p2.b2)),
    triples AS (
      SELECT c.b1, c.b2, c.b3, COUNT(*) AS support
      FROM cand c
      JOIN baskets x ON x.b = c.b1
      JOIN baskets y ON y.o = x.o AND y.b = c.b2
      JOIN baskets z ON z.o = x.o AND z.b = c.b3
      GROUP BY c.b1, c.b2, c.b3 HAVING COUNT(*) >= 3)
    SELECT b1, b2, b3, CAST(support AS BIGINT) AS support
    FROM triples ORDER BY support DESC, b1, b2, b3
    LIMIT 20
    """,
)
def apriori_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining with the A-Priori candidate prune: only
    brand triples whose THREE constituent pairs are all frequent
    (support >= 3) get counted — the downward-closure pruning that keeps
    candidate explosion polynomial at scale. Candidate generation is the
    classic prefix self-join of the frequent-pair list (small, shuffles
    on brand), and support counting re-probes the basket table three
    times on (order, brand) — never an all-triples enumeration."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    baskets = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    baskets = op_cache.reuse(baskets)
    a = baskets.alias("a")
    c = baskets.alias("c")
    pairs = (
        a.join(c, (F.col("c.o") == F.col("a.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 3)
        .select("b1", "b2")
    )
    pairs = op_cache.reuse(pairs)
    p1 = pairs.alias("p1")
    p2 = pairs.select(
        F.col("b1").alias("q1"), F.col("b2").alias("b3")
    ).alias("p2")
    cand = p1.join(
        p2, (F.col("q1") == F.col("p1.b1")) & (F.col("b3") > F.col("p1.b2"))
    ).join(
        pairs.select(
            F.col("b1").alias("e1"), F.col("b2").alias("e2")
        ),
        (F.col("e1") == F.col("p1.b2")) & (F.col("e2") == F.col("b3")),
        "left_semi",
    ).select("b1", "b2", "b3")
    x = baskets.select(F.col("o"), F.col("b").alias("xb"))
    y = baskets.select(F.col("o").alias("oy"), F.col("b").alias("yb"))
    z = baskets.select(F.col("o").alias("oz"), F.col("b").alias("zb"))
    triples = (
        F.broadcast(cand)
        .join(x, F.col("xb") == F.col("b1"))
        .join(y, (F.col("oy") == F.col("o")) & (F.col("yb") == F.col("b2")))
        .join(z, (F.col("oz") == F.col("o")) & (F.col("zb") == F.col("b3")))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    return (
        triples.select(
            "b1", "b2", "b3", F.col("support").cast("bigint").alias("support")
        )
        .orderBy(F.desc("support"), "b1", "b2", "b3")
        .limit(20)
    )


@register(
    "weighted_median_discount",
    oracle="""
    WITH g AS (
      SELECT l_discount AS v, CAST(SUM(l_quantity) AS BIGINT) AS w
      FROM lineitem GROUP BY l_discount),
    c AS (
      SELECT v, w,
             SUM(w) OVER (ORDER BY v) AS cum,
             SUM(w) OVER () AS total
      FROM g)
    SELECT MIN(v) AS weighted_median_discount,
           CAST(MAX(total) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= total
    """,
)
def weighted_median_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted median discount): group by
    value, cumulative integer weights over the value order, first value
    whose doubled cumulative weight reaches the total — a pure selection
    on exact integers, no interpolation to disagree on. The grouped
    pre-aggregation means the window runs over distinct values (tiny),
    not the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_discount").alias("v")).agg(
        F.sum("l_quantity").cast("bigint").alias("w")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    c = g.select(
        "v",
        F.sum("w").over(wv).alias("cum"),
        F.sum("w").over(wg).alias("total"),
    )
    return c.filter(2 * F.col("cum") >= F.col("total")).agg(
        F.min("v").alias("weighted_median_discount"),
        F.max("total").cast("bigint").alias("total_weight"),
    )


__all__ = [
    'q6_revenue_forecast',
    'word_count_top20',
    'q4_order_priority',
    'q12_shipmode_priority',
    'q14_promo_revenue_ratio',
    'q8_market_share',
    'dataset_split_hash',
    'fuzzy_match_part_names',
    'approx_sketches_events',
    'histogram_order_totals',
    'market_basket_brand_pairs',
    'robust_stats_orders',
    'revenue_concentration_pareto',
    'global_shuffle_deterministic',
    'filter_funnel_stats',
    'scd2_user_history',
    'dq_expectations',
    'event_transition_matrix',
    'array_hof_breadth',
    'cms_user_event_counts',
    'quantile_sketch_order_totals',
    'funnel_time_to_conversion',
    'session_path_patterns',
    'scd2_point_in_time_lookup',
    'market_basket_lift',
    'decile_migration_matrix',
    'theil_sen_revenue_trend',
    'cohort_ltv_curve',
    'user_activity_entropy',
    'user_interevent_gap_stats',
    'shipping_delay_stats',
    'keyword_in_context',
    'active_user_stickiness',
    'repeat_purchase_distribution',
    'dau_week_over_week',
    'decision_stump_classifier',
    'grouped_median_mad_doclen',
    'map_functions_breadth',
    'snapshot_diff_incremental',
    'k_anonymity_check',
    'contrastive_hard_negatives',
    'bottomk_hash_sample',
    'span_corruption_masks',
    'ks_test_order_totals',
    'psi_population_stability',
    'unicode_category_profile',
    'churn_label_generation',
    'robust_outlier_docs',
    'partitioned_scan_pruning',
    'dpp_partitioned_fact_join',
    'format_roundtrip_consistency',
    'ols_regression_2feature',
    'tree_depth2_classifier',
    'l_diversity_audit',
    'seasonal_naive_mase',
    'generator_outer_semantics',
    'reused_exchange_monthly_share',
    'markov_stationary_2step',
    'duplicate_span_profile',
    'hll_merge_by_type',
    'split_leakage_audit',
    'group_by_all_parity',
    'subquery_decorrelation_breadth',
    'attribution_linear_multi_touch',
    'parallel_variance_merge',
    'sequence_motif_top20',
    'survival_kaplan_meier',
    'collation_case_insensitive_join',
    'ml_inference_iterator_udf',
    'pandas_udaf_language_stats',
    'observation_single_pass_metrics',
    'pandas_udaf_over_window',
    'regr_aggregate_family',
    'execute_immediate_param',
    'preference_pair_construction',
    'length_grouped_batches',
    'training_shard_manifest',
    'map_hof_breadth',
    'spatial_grid_neighbor_join',
    'phrase_search_positional',
    'markov_next_event_accuracy',
    'entity_resolution_canonicalize',
    'crossval_fold_assignment',
    'dbscan_grid_clusters',
    'quantile_normalize_doclen',
    'functional_dependency_audit',
    'cep_pattern_detection',
    'cdc_tombstone_merge',
    'data_budget_epoch_allocation',
    'chi_square_independence',
    'attribution_time_decay',
    'gapped_sequence_support',
    'hybrid_rrf_fusion',
    'apriori_triple_itemsets',
    'weighted_median_discount',
]
