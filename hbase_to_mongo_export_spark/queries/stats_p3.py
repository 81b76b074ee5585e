"""stats_p3 queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "f1_threshold_selection",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, y,
             CAST(c AS DOUBLE) / CAST(c + 3 AS DOUBLE) AS score
      FROM per_user),
    pos AS (SELECT SUM(y) AS npos FROM scored),
    cum AS (
      SELECT score, y,
             SUM(y) OVER (ORDER BY score DESC, user_id) AS tp,
             COUNT(*) OVER (ORDER BY score DESC, user_id) AS npred,
             LEAD(score) OVER (ORDER BY score DESC, user_id) AS next_score
      FROM scored),
    at_threshold AS (
      SELECT score AS threshold, tp, npred
      FROM cum WHERE next_score IS NULL OR next_score <> score),
    prf AS (
      SELECT threshold, tp, npred,
             CAST(tp AS DOUBLE) / CAST(npred AS DOUBLE) AS prec,
             CAST(tp AS DOUBLE) / CAST(pos.npos AS DOUBLE) AS rec
      FROM at_threshold, pos),
    f1 AS (
      SELECT threshold, tp, npred, prec, rec,
             CASE WHEN prec + rec = 0 THEN CAST(0 AS DOUBLE)
                  ELSE 2 * prec * rec / (prec + rec) END AS f1
      FROM prf)
    SELECT ROUND(threshold, 6) AS threshold, CAST(tp AS BIGINT) AS tp,
           CAST(npred AS BIGINT) AS n_predicted,
           ROUND(prec, 6) AS precision_, ROUND(rec, 6) AS recall_,
           ROUND(f1, 6) AS f1, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY f1 DESC, threshold DESC) AS rk FROM f1)
    WHERE rk <= 5
    ORDER BY rank
    """,
)
def f1_threshold_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact F1-optimal threshold selection over the PR curve: users
    rank by the rational score c/(c+3), cumulative TP/predicted counts
    come from one descending window (evaluated only at distinct-score
    boundaries, where the metric can actually change), and the 5 best
    operating points by F1 are reported — how you pick a classifier
    cutoff without a grid search. All counts exact; one window over the
    scored set."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    scored = per_user.select(
        "user_id",
        "y",
        (F.col("c").cast("double") / (F.col("c") + 3).cast("double")).alias(
            "score"
        ),
    )
    pos = scored.agg(F.sum("y").alias("npos"))
    wc = Window.orderBy(F.desc("score"), "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy(F.desc("score"), "user_id")
    cum = scored.select(
        "score",
        F.sum("y").over(wc).alias("tp"),
        F.count(F.lit(1)).over(wc).alias("npred"),
        F.lead("score").over(wl).alias("next_score"),
    )
    at_threshold = cum.filter(
        F.col("next_score").isNull() | (F.col("next_score") != F.col("score"))
    ).select(F.col("score").alias("threshold"), "tp", "npred")
    prf = at_threshold.crossJoin(F.broadcast(pos)).select(
        "threshold",
        "tp",
        "npred",
        (F.col("tp").cast("double") / F.col("npred").cast("double")).alias(
            "prec"
        ),
        (F.col("tp").cast("double") / F.col("npos").cast("double")).alias(
            "rec"
        ),
    )
    f1c = (
        F.when(F.col("prec") + F.col("rec") == 0, F.lit(0.0))
        .otherwise(
            2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec"))
        )
        .alias("f1")
    )
    f1 = prf.select("threshold", "tp", "npred", "prec", "rec", f1c)
    wrk = Window.orderBy(F.desc("f1"), F.desc("threshold"))
    return (
        f1.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 5)
        .select(
            F.round("threshold", 6).alias("threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("npred").cast("bigint").alias("n_predicted"),
            F.round("prec", 6).alias("precision_"),
            F.round("rec", 6).alias("recall_"),
            F.round("f1", 6).alias("f1"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "prefix_cache_savings",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             [w FOR w IN string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
              IF w <> ''] AS ws
      FROM documents),
    ks AS (SELECT unnest([8, 16, 32]) AS k),
    prefixed AS (
      SELECT ks.k, w.doc_id, len(w.ws) AS doclen,
             list_aggregate(w.ws[1:LEAST(ks.k, len(w.ws))], 'string_agg', ' ')
               AS prefix,
             LEAST(ks.k, len(w.ws)) AS plen
      FROM words w CROSS JOIN ks),
    grouped AS (
      SELECT k, prefix, plen, COUNT(*) AS n_docs
      FROM prefixed GROUP BY k, prefix, plen),
    savings AS (
      SELECT k,
             SUM(CASE WHEN n_docs > 1 THEN (n_docs - 1) * plen ELSE 0 END)
               AS tokens_saved,
             SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS shared_prefixes,
             SUM(n_docs) AS n_docs
      FROM grouped GROUP BY k),
    tot AS (SELECT SUM(len(ws)) AS total_tokens FROM words)
    SELECT s.k AS prefix_len, CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.shared_prefixes AS BIGINT) AS shared_prefixes,
           CAST(s.tokens_saved AS BIGINT) AS tokens_saved,
           ROUND(CAST(s.tokens_saved AS DOUBLE)
                 / CAST(tot.total_tokens AS DOUBLE), 6) AS savings_ratio
    FROM savings s, tot
    ORDER BY prefix_len
    """,
)
def prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (shared-prompt KV reuse) savings model: for prefix
    lengths 8/16/32 tokens, group documents by their exact token
    prefix; every duplicate beyond the first in a group re-uses the
    cached prefix, saving (n−1)·prefix_len tokens — the capacity
    question behind serving-time prompt caching. Grouping shuffles on
    the (k, prefix) key only; savings are exact integer token counts
    against the corpus total."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            ),
            lambda x: x != "",
        ).alias("ws"),
    )
    words = op_cache.track(words.cache())
    ks = spark.createDataFrame([(8,), (16,), (32,)], "k int")
    prefixed = words.crossJoin(F.broadcast(ks)).select(
        "k",
        "doc_id",
        F.expr(
            "array_join(slice(ws, 1, LEAST(k, size(ws))), ' ')"
        ).alias("prefix"),
        F.expr("LEAST(k, size(ws))").alias("plen"),
    )
    grouped = prefixed.groupBy("k", "prefix", "plen").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    savings = grouped.groupBy("k").agg(
        F.sum(
            F.when(
                F.col("n_docs") > 1, (F.col("n_docs") - 1) * F.col("plen")
            ).otherwise(0)
        ).alias("tokens_saved"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
            "shared_prefixes"
        ),
        F.sum("n_docs").alias("n_docs"),
    )
    tot = words.agg(F.sum(F.size("ws")).alias("total_tokens"))
    return (
        savings.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("prefix_len"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("shared_prefixes").cast("bigint").alias("shared_prefixes"),
            F.col("tokens_saved").cast("bigint").alias("tokens_saved"),
            F.round(
                F.col("tokens_saved").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("savings_ratio"),
        )
        .orderBy("prefix_len")
    )


@register(
    "negative_sampling_distribution",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    cnt AS (
      SELECT w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY w),
    top AS (
      SELECT w, c, POWER(CAST(c AS DOUBLE), CAST(0.75 AS DOUBLE)) AS u
      FROM (SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn
            FROM cnt) WHERE rn <= 30),
    z AS (
      SELECT list_reduce(list(u ORDER BY w), (a, b) -> a + b) AS z FROM top)
    SELECT t.w AS token, CAST(t.c AS BIGINT) AS freq,
           ROUND(t.u / z.z, 6) AS sample_prob,
           ROUND(CAST(t.c AS DOUBLE)
                 / (SELECT SUM(c) FROM top), 6) AS raw_prob
    FROM top t, z
    ORDER BY freq DESC, token
    """,
)
def negative_sampling_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution P(w) ∝ count^0.75
    over the 30 most frequent tokens, next to the raw frequency share —
    showing exactly how the 3/4 power flattens the head (the trick that
    makes sampled softmax work). The unigram table aggregates once; the
    normalizer folds token-ascending over the 30-row head. At corpus
    scale the head table is the broadcast-size sampling table you ship
    to trainers."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
                )
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        cnt.orderBy(F.desc("c"), "w")
        .limit(30)
        .select(
            "w",
            "c",
            F.pow(F.col("c").cast("double"), F.lit(0.75).cast("double")).alias(
                "u"
            ),
        )
    )
    top = op_cache.track(top.cache())
    z = top.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(w, u))), "
            "cast(0 as double), (acc, e) -> acc + e.u)"
        ).alias("z")
    )
    ctot = top.agg(F.sum("c").alias("ct"))
    return (
        top.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(ctot))
        .select(
            F.col("w").alias("token"),
            F.col("c").cast("bigint").alias("freq"),
            F.round(F.col("u") / F.col("z"), 6).alias("sample_prob"),
            F.round(
                F.col("c").cast("double") / F.col("ct").cast("double"), 6
            ).alias("raw_prob"),
        )
        .orderBy(F.desc("freq"), "token")
    )


@register("logistic_newton_glm", oracle=_logistic_oracle())
def logistic_newton_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression fit IN the engine: two Newton-Raphson (IRLS)
    steps for P(error-heavy | clicks, views) expressed as pure
    relational algebra — per-user weighted moment terms fold
    user-ascending into the 3×3 normal matrix, which a shared-SQL
    adjugate solve inverts identically in both engines (the exact same
    expression strings run through F.expr and the oracle). Step 1 from
    β=0 is exact dyadic arithmetic (μ=½, w=¼); step 2's sigmoid terms
    are fixed-order folds. The scale shape of distributed GLM training:
    one pass per iteration, only 9 numbers cross the network."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x2"),
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .cast("double")
        .alias("y"),
    )
    per_user = op_cache.track(per_user.cache())

    def folds(src: DataFrame, terms: dict[str, str]) -> DataFrame:
        aggs = [
            F.expr(
                f"aggregate(array_sort(collect_list(struct(user_id, "
                f"{expr} AS t))), cast(0 as double), "
                f"(acc, e) -> acc + e.t)"
            ).alias(name)
            for name, expr in terms.items()
        ]
        return src.agg(*aggs)

    it1 = folds(
        per_user,
        {
            "m11": "0.25 * 1 * 1",
            "m12": "0.25 * x1",
            "m13": "0.25 * x2",
            "m22": "0.25 * x1 * x1",
            "m23": "0.25 * x1 * x2",
            "m33": "0.25 * x2 * x2",
            "g1": "(y - 0.5)",
            "g2": "(y - 0.5) * x1",
            "g3": "(y - 0.5) * x2",
        },
    )
    s1 = _LOGIT_S1
    b1 = it1.select(
        F.expr(s1["d1"]).alias("b0"),
        F.expr(s1["d2"]).alias("bx1"),
        F.expr(s1["d3"]).alias("bx2"),
    )
    mu = per_user.crossJoin(F.broadcast(b1)).select(
        "user_id",
        "x1",
        "x2",
        "y",
        F.expr("1 / (1 + EXP(-(b0 + bx1 * x1 + bx2 * x2)))").alias("mu"),
    )
    it2 = folds(
        mu,
        {
            "n11": "mu * (1 - mu)",
            "n12": "mu * (1 - mu) * x1",
            "n13": "mu * (1 - mu) * x2",
            "n22": "mu * (1 - mu) * x1 * x1",
            "n23": "mu * (1 - mu) * x1 * x2",
            "n33": "mu * (1 - mu) * x2 * x2",
            "h1": "(y - mu)",
            "h2": "(y - mu) * x1",
            "h3": "(y - mu) * x2",
        },
    )
    s2 = _LOGIT_S2
    b2 = it2.crossJoin(F.broadcast(b1)).select(
        (F.col("b0") + F.expr(s2["d1"])).alias("b0f"),
        (F.col("bx1") + F.expr(s2["d2"])).alias("bx1f"),
        (F.col("bx2") + F.expr(s2["d3"])).alias("bx2f"),
    )
    nn = per_user.agg(F.count(F.lit(1)).alias("n"))
    return b2.crossJoin(F.broadcast(nn)).select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round("b0f", 6).alias("intercept"),
        F.round("bx1f", 6).alias("coef_clicks"),
        F.round("bx2f", 6).alias("coef_views"),
    )


@register("poisson_glm_newton", oracle=_poisson_oracle())
def poisson_glm_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson GLM (log link) fit in-engine: two IRLS steps for
    E[purchases | clicks, views] = exp(Xβ), sharing the 3×3
    adjugate-solve SQL with the logistic fit. From β=0 the first step's
    working weights are exactly 1 (integer moments); step 2 folds
    exp-link terms user-ascending. Same one-pass-per-iteration,
    9-numbers-cross-the-network scale shape as the logistic GLM —
    together they demonstrate the whole weighted-least-squares GLM
    family runs as relational algebra."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x2"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    per_user = op_cache.track(per_user.cache())

    def folds(src: DataFrame, terms: dict[str, str]) -> DataFrame:
        aggs = [
            F.expr(
                f"aggregate(array_sort(collect_list(struct(user_id, "
                f"{expr} AS t))), cast(0 as double), "
                f"(acc, e) -> acc + e.t)"
            ).alias(name)
            for name, expr in terms.items()
        ]
        return src.agg(*aggs)

    it1 = folds(
        per_user,
        {
            "m11": "CAST(1 AS DOUBLE)",
            "m12": "x1",
            "m13": "x2",
            "m22": "x1 * x1",
            "m23": "x1 * x2",
            "m33": "x2 * x2",
            "g1": "(y - 1)",
            "g2": "(y - 1) * x1",
            "g3": "(y - 1) * x2",
        },
    )
    s1, s2 = _solve3("m", "g"), _solve3("n", "h")
    b1 = it1.select(
        F.expr(s1["d1"]).alias("b0"),
        F.expr(s1["d2"]).alias("bx1"),
        F.expr(s1["d3"]).alias("bx2"),
    )
    mu = per_user.crossJoin(F.broadcast(b1)).select(
        "user_id",
        "x1",
        "x2",
        "y",
        F.expr("EXP(b0 + bx1 * x1 + bx2 * x2)").alias("mu"),
    )
    it2 = folds(
        mu,
        {
            "n11": "mu",
            "n12": "mu * x1",
            "n13": "mu * x2",
            "n22": "mu * x1 * x1",
            "n23": "mu * x1 * x2",
            "n33": "mu * x2 * x2",
            "h1": "(y - mu)",
            "h2": "(y - mu) * x1",
            "h3": "(y - mu) * x2",
        },
    )
    b2 = it2.crossJoin(F.broadcast(b1)).select(
        (F.col("b0") + F.expr(s2["d1"])).alias("b0f"),
        (F.col("bx1") + F.expr(s2["d2"])).alias("bx1f"),
        (F.col("bx2") + F.expr(s2["d3"])).alias("bx2f"),
    )
    nn = per_user.agg(F.count(F.lit(1)).alias("n"))
    return b2.crossJoin(F.broadcast(nn)).select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round("b0f", 6).alias("intercept"),
        F.round("bx1f", 6).alias("coef_clicks"),
        F.round("bx2f", 6).alias("coef_views"),
    )


@register(
    "mcnemar_paired_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id),
    preds AS (
      SELECT user_id, y,
             CASE WHEN 10 * c > v THEN 1 ELSE 0 END AS pa,
             CASE WHEN c > 25 THEN 1 ELSE 0 END AS pb
      FROM per_user),
    cells AS (
      SELECT
        SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS both_right,
        SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS c,
        SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS both_wrong
      FROM preds)
    SELECT CAST(both_right AS BIGINT) AS both_right,
           CAST(b AS BIGINT) AS only_a_right,
           CAST(c AS BIGINT) AS only_b_right,
           CAST(both_wrong AS BIGINT) AS both_wrong,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ROUND((CAST(ABS(b - c) AS DOUBLE) - 1)
                           * (CAST(ABS(b - c) AS DOUBLE) - 1)
                           / CAST(b + c AS DOUBLE), 6)
           END AS mcnemar_chi2
    FROM cells
    """,
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for comparing two classifiers on the SAME users
    (the paired test that a naive two-proportion z gets wrong): rule A
    (click share) vs rule B (click threshold) against the error-heavy
    label, χ² = (|b−c|−1)²/(b+c) from the discordant cells only. The
    entire test is one aggregate over the per-user predictions — exact
    integers until the final statistic."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "v"
        ),
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    preds = per_user.select(
        "y",
        F.when(10 * F.col("c") > F.col("v"), 1).otherwise(0).alias("pa"),
        F.when(F.col("c") > 25, 1).otherwise(0).alias("pb"),
    )
    cells = preds.agg(
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).alias("both_right"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).alias("both_wrong"),
    )
    absbc = F.abs(F.col("b") - F.col("c")).cast("double")
    return cells.select(
        F.col("both_right").cast("bigint").alias("both_right"),
        F.col("b").cast("bigint").alias("only_a_right"),
        F.col("c").cast("bigint").alias("only_b_right"),
        F.col("both_wrong").cast("bigint").alias("both_wrong"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(None))
        .otherwise(
            F.round(
                (absbc - 1) * (absbc - 1) / (F.col("b") + F.col("c")).cast("double"),
                6,
            )
        )
        .alias("mcnemar_chi2"),
    )


@register("hmm_forward_loglik", oracle=_hmm_oracle())
def hmm_forward_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-Markov-model forward algorithm as relational algebra: each
    user's first 100 events (event-time order) become per-step 2×2
    matrices M_t = T ⊙ emission(obs_t), the forward recursion is the
    SEQUENTIAL left-fold matrix product Π M_t (folds are ordered, so
    both engines multiply in the identical order), and the sequence
    log-likelihood is ln(π·P·1) under pinned healthy/erratic
    parameters. Top-20 users by per-event log-likelihood — the "whose
    behavior fits the model" scan. Per-user folds distribute perfectly:
    state is 4 doubles per user, never a Python loop."""
    ev = _t(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = ev.select(
        "user_id", "event_type", F.row_number().over(wp).alias("pos")
    ).filter(F.col("pos") <= 100)
    t = _HMM_T
    e1 = _hmm_emission_sql("event_type", 0)
    e2 = _hmm_emission_sql("event_type", 1)
    mats = capped.select(
        "user_id",
        "pos",
        F.expr(f"CAST({t['hh']} AS DOUBLE) * {e1}").alias("m11"),
        F.expr(f"CAST({t['he']} AS DOUBLE) * {e2}").alias("m12"),
        F.expr(f"CAST({t['eh']} AS DOUBLE) * {e1}").alias("m21"),
        F.expr(f"CAST({t['ee']} AS DOUBLE) * {e2}").alias("m22"),
    )
    folded = mats.groupBy("user_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(pos, m11, m12, m21, "
            "m22))), "
            "struct(CAST(1 AS DOUBLE) AS m11, CAST(0 AS DOUBLE) AS m12, "
            "CAST(0 AS DOUBLE) AS m21, CAST(1 AS DOUBLE) AS m22), "
            "(a, b) -> struct("
            "a.m11 * b.m11 + a.m12 * b.m21 AS m11, "
            "a.m11 * b.m12 + a.m12 * b.m22 AS m12, "
            "a.m21 * b.m11 + a.m22 * b.m21 AS m21, "
            "a.m21 * b.m12 + a.m22 * b.m22 AS m22))"
        ).alias("p"),
        F.count(F.lit(1)).alias("len"),
    )
    i0, i1 = _HMM_INIT
    lik = folded.select(
        "user_id",
        "len",
        F.log(
            (
                F.lit(i0).cast("double") * F.col("p.m11")
                + F.lit(i1).cast("double") * F.col("p.m21")
            )
            + (
                F.lit(i0).cast("double") * F.col("p.m12")
                + F.lit(i1).cast("double") * F.col("p.m22")
            )
        ).alias("ll"),
    )
    wrk = Window.orderBy(
        F.desc(F.col("ll") / F.col("len").cast("double")), "user_id"
    )
    return (
        lik.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 20)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("seq_len"),
            F.round("ll", 6).alias("log_likelihood"),
            F.round(F.col("ll") / F.col("len").cast("double"), 6).alias(
                "per_event_ll"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "binned_kde_density",
    oracle="""
    WITH binned AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 500000 AS b,
             COUNT(*) AS c
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1),
    n AS (SELECT SUM(c) AS n FROM binned),
    grid AS (
      SELECT unnest(range(0, 20)) AS gi),
    pts AS (
      SELECT gi, CAST(25000 + gi * 25000 AS DOUBLE) AS x FROM grid),
    terms AS (
      SELECT p.gi, p.x, b.b, b.c,
             CAST(b.c AS DOUBLE)
             * EXP(-((CAST(b.b AS DOUBLE) * 5000 + 2500) - p.x)
                   * ((CAST(b.b AS DOUBLE) * 5000 + 2500) - p.x)
                   / (2 * CAST(15000 AS DOUBLE) * CAST(15000 AS DOUBLE)))
               AS t
      FROM pts p CROSS JOIN binned b),
    dens AS (
      SELECT gi, x,
             list_reduce(list(t ORDER BY b), (a, b2) -> a + b2) AS s
      FROM terms GROUP BY gi, x)
    SELECT CAST(d.gi AS INT) AS grid_index, ROUND(d.x, 2) AS price,
           ROUND(d.s / (CAST(n.n AS DOUBLE)
                        * CAST(15000 AS DOUBLE)
                        * CAST(2.506628274631 AS DOUBLE)), 9) AS density
    FROM dens d, n
    ORDER BY grid_index
    """,
)
def binned_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density of urgent-order prices on a 20-point
    grid, computed from a 5k-wide BINNED histogram (bin centers stand
    in for the points) — the scale-correct KDE: the fact table
    collapses to ~100 histogram rows first, so the kernel sums are a
    grid×bins broadcast product no matter how many orders exist.
    Bandwidth 15k and √(2π) are pinned constants; per-grid-point sums
    fold bin-ascending."""
    orders = _t(spark, sf_dir, "orders")
    binned = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
                "DIV 500000"
            ).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    binned = op_cache.track(binned.cache())
    n = binned.agg(F.sum("c").alias("n"))
    pts = spark.range(0, 20).select(
        F.col("id").cast("int").alias("gi"),
        (25000 + F.col("id") * 25000).cast("double").alias("x"),
    )
    bw = F.lit(15000).cast("double")
    center = F.col("b").cast("double") * 5000 + 2500
    terms = pts.crossJoin(binned).select(
        "gi",
        "x",
        "b",
        (
            F.col("c").cast("double")
            * F.exp(
                -(center - F.col("x"))
                * (center - F.col("x"))
                / (2 * bw * bw)
            )
        ).alias("t"),
    )
    dens = terms.groupBy("gi", "x").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(b, t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("s")
    )
    return (
        dens.crossJoin(F.broadcast(n))
        .select(
            F.col("gi").cast("int").alias("grid_index"),
            F.round("x", 2).alias("price"),
            F.round(
                F.col("s")
                / (
                    F.col("n").cast("double")
                    * bw
                    * F.lit(2.506628274631).cast("double")
                ),
                9,
            ).alias("density"),
        )
        .orderBy("grid_index")
    )


@register(
    "cramer_von_mises_test",
    oracle="""
    WITH a AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS v
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS v
      FROM orders WHERE o_orderpriority = '5-LOW'),
    na AS (SELECT COUNT(*) AS n1 FROM a),
    nb AS (SELECT COUNT(*) AS n2 FROM b),
    merged AS (
      SELECT v, SUM(ca) AS ca, SUM(cb) AS cb
      FROM (SELECT v, 1 AS ca, 0 AS cb FROM a
            UNION ALL SELECT v, 0, 1 FROM b)
      GROUP BY v),
    cdf AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM merged),
    stat AS (
      SELECT SUM(CAST(ca + cb AS HUGEINT)
                 * CAST(cuma * nb.n2 - cumb * na.n1 AS HUGEINT)
                 * CAST(cuma * nb.n2 - cumb * na.n1 AS HUGEINT)) AS s
      FROM cdf, na, nb)
    SELECT CAST(na.n1 AS BIGINT) AS n_urgent,
           CAST(nb.n2 AS BIGINT) AS n_low,
           CAST(stat.s AS HUGEINT)::VARCHAR AS scaled_statistic,
           ROUND(CAST(stat.s AS DOUBLE)
                 / (CAST(na.n1 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)
                    * (CAST(na.n1 AS DOUBLE) + CAST(nb.n2 AS DOUBLE))
                    * (CAST(na.n1 AS DOUBLE) + CAST(nb.n2 AS DOUBLE))), 9)
             AS cvm_t
    FROM stat, na, nb
    """,
)
def cramer_von_mises_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between URGENT and LOW
    price distributions — the integrated-squared-CDF-difference
    companion to the KS sup-statistic (sensitive to distributed shifts
    KS misses): T = Σ_steps w·(F1−F2)² evaluated exactly on the merged
    support with INTEGER cumulative counts (the scaled integer
    statistic is itself an output, stringified since it exceeds
    int64). One merge shuffle + one running window, same scale shape
    as the Wasserstein drift metric."""
    orders = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v")
    )
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        cents, F.lit(1).alias("ca"), F.lit(0).alias("cb")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        cents, F.lit(0).alias("ca"), F.lit(1).alias("cb")
    )
    merged = (
        a.unionAll(b)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    na = a.agg(F.count(F.lit(1)).alias("n1"))
    nb = b.agg(F.count(F.lit(1)).alias("n2"))
    wo = Window.orderBy("v")
    cdf = merged.select(
        "ca",
        "cb",
        F.sum("ca").over(wo).alias("cuma"),
        F.sum("cb").over(wo).alias("cumb"),
    )
    diff = (
        F.col("cuma").cast("decimal(38,0)") * F.col("n2")
        - F.col("cumb").cast("decimal(38,0)") * F.col("n1")
    )
    stat = (
        cdf.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(F.sum((F.col("ca") + F.col("cb")) * diff * diff).alias("s"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        stat.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n1").cast("bigint").alias("n_urgent"),
            F.col("n2").cast("bigint").alias("n_low"),
            F.col("s").cast("decimal(38,0)").cast("string").alias(
                "scaled_statistic"
            ),
            F.round(
                d("s")
                / (d("n1") * d("n2") * (d("n1") + d("n2")) * (d("n1") + d("n2"))),
                9,
            ).alias("cvm_t"),
        )
    )


@register(
    "chain_ladder_retention",
    oracle="""
    WITH om AS (
      SELECT o_custkey AS cust,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    coh AS (
      SELECT cust, MIN(m) AS m0 FROM om GROUP BY cust),
    aged AS (
      SELECT c.m0,
             (EXTRACT(YEAR FROM o.m) - EXTRACT(YEAR FROM c.m0)) * 12
             + (EXTRACT(MONTH FROM o.m) - EXTRACT(MONTH FROM c.m0)) AS age,
             o.n
      FROM om o JOIN coh c ON c.cust = o.cust),
    tri AS (
      SELECT m0, age, SUM(n) AS inc FROM aged
      WHERE age <= 6 GROUP BY m0, age),
    grid AS (
      SELECT DISTINCT t.m0, a.age
      FROM tri t CROSS JOIN (SELECT unnest(range(0, 7)) AS age) a),
    cum AS (
      SELECT g.m0, g.age,
             SUM(COALESCE(t.inc, 0)) OVER (PARTITION BY g.m0
               ORDER BY g.age) AS cum
      FROM grid g LEFT JOIN tri t ON t.m0 = g.m0 AND t.age = g.age),
    mx AS (SELECT MAX(m0) AS mmax FROM tri),
    fac AS (
      SELECT a.age + 1 AS to_age,
             SUM(b.cum) AS num, SUM(a.cum) AS den, COUNT(*) AS n_cohorts
      FROM cum a
      JOIN cum b ON b.m0 = a.m0 AND b.age = a.age + 1, mx
      WHERE a.age < 6
        AND (EXTRACT(YEAR FROM a.m0) * 12 + EXTRACT(MONTH FROM a.m0))
            + a.age + 1
            <= EXTRACT(YEAR FROM mx.mmax) * 12 + EXTRACT(MONTH FROM mx.mmax)
      GROUP BY a.age + 1)
    SELECT CAST(to_age AS INT) AS to_age,
           CAST(n_cohorts AS BIGINT) AS n_cohorts,
           CAST(num AS BIGINT) AS cum_orders_next,
           CAST(den AS BIGINT) AS cum_orders_prev,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             AS development_factor
    FROM fac
    ORDER BY to_age
    """,
)
def chain_ladder_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development factors over the customer-cohort order
    triangle — the actuarial projection method applied to retention:
    cohorts by first-order month, cumulative orders by month-age (0-6),
    and each age-to-age factor Σcum_{j+1}/Σcum_j pooled over exactly
    the cohorts old enough to have reached age j+1 (the triangle's
    diagonal rule). Multiply the factors and you project a young
    cohort's eventual volume. All-integer triangle, one customer
    aggregate + one month aggregate."""
    orders = _t(spark, sf_dir, "orders")
    om = orders.groupBy(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m"),
    ).agg(F.count(F.lit(1)).alias("n"))
    om = op_cache.track(om.cache())
    coh = om.groupBy("cust").agg(F.min("m").alias("m0"))
    aged = om.join(coh, "cust").select(
        "m0",
        (
            (F.year("m") - F.year("m0")) * 12
            + (F.month("m") - F.month("m0"))
        ).alias("age"),
        "n",
    )
    tri = (
        aged.filter(F.col("age") <= 6)
        .groupBy("m0", "age")
        .agg(F.sum("n").alias("inc"))
    )
    tri = op_cache.track(tri.cache())
    ages = spark.range(0, 7).select(F.col("id").cast("int").alias("age"))
    grid = tri.select("m0").distinct().crossJoin(F.broadcast(ages))
    wc = Window.partitionBy("m0").orderBy("age")
    cum = (
        grid.join(tri, ["m0", "age"], "left")
        .select(
            "m0", "age", F.coalesce(F.col("inc"), F.lit(0)).alias("inc0")
        )
        .select("m0", "age", F.sum("inc0").over(wc).alias("cum"))
    )
    mx = tri.agg(F.max("m0").alias("mmax"))
    a = cum.select(
        F.col("m0").alias("ma"), F.col("age").alias("aa"), F.col("cum").alias("ca")
    )
    b = cum.select(
        F.col("m0").alias("mb"), F.col("age").alias("ab"), F.col("cum").alias("cb")
    )
    fac = (
        a.join(
            b,
            (F.col("mb") == F.col("ma")) & (F.col("ab") == F.col("aa") + 1),
        )
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("aa") < 6)
            & (
                F.year("ma") * 12 + F.month("ma") + F.col("aa") + 1
                <= F.year("mmax") * 12 + F.month("mmax")
            )
        )
        .groupBy((F.col("aa") + 1).alias("to_age"))
        .agg(
            F.sum("cb").alias("num"),
            F.sum("ca").alias("den"),
            F.count(F.lit(1)).alias("n_cohorts"),
        )
    )
    return fac.select(
        F.col("to_age").cast("int").alias("to_age"),
        F.col("n_cohorts").cast("bigint").alias("n_cohorts"),
        F.col("num").cast("bigint").alias("cum_orders_next"),
        F.col("den").cast("bigint").alias("cum_orders_prev"),
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("development_factor"),
    ).orderBy("to_age")


@register(
    "simplified_silhouette",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < 8),
    pts AS (
      SELECT vec_id AS pid, embedding AS pv
      FROM embeddings WHERE vec_id >= 8),
    dist AS (
      SELECT p.pid, c.cid,
             SQRT(list_reduce([(CAST(p.pv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                               * (CAST(p.pv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                               FOR i IN range(1, len(p.pv)+1)],
                              (acc, x) -> acc + x)) AS d
      FROM pts p CROSS JOIN cent c),
    ranked AS (
      SELECT pid, cid, d,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, cid) AS rn
      FROM dist),
    ab AS (
      SELECT pid,
             MAX(CASE WHEN rn = 1 THEN d END) AS a,
             MAX(CASE WHEN rn = 1 THEN cid END) AS cluster,
             MAX(CASE WHEN rn = 2 THEN d END) AS b
      FROM ranked WHERE rn <= 2 GROUP BY pid),
    sil AS (
      SELECT pid, cluster,
             (b - a) / GREATEST(a, b) AS s
      FROM ab)
    SELECT cluster AS centroid_id, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(list_reduce(list(s ORDER BY pid), (x, y) -> x + y)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_silhouette
    FROM sil GROUP BY cluster
    ORDER BY centroid_id
    """,
)
def simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per cluster: a = the
    distance to the nearest centroid (the assignment), b = to the
    second-nearest, s = (b−a)/max(a,b) — the linear-time clustering
    quality metric that replaces the O(n²) pairwise silhouette at
    scale. Centroids are the 8 probe vectors (broadcast); per-cluster
    means fold point-ascending. This is the eval you run after every
    kmeans_lloyd round."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    pts = emb.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pv")
    )
    sqd = F.aggregate(
        F.zip_with(
            F.col("pv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = pts.crossJoin(F.broadcast(cent)).select(
        "pid", "cid", F.sqrt(sqd).alias("d")
    )
    wr = Window.partitionBy("pid").orderBy("d", "cid")
    ranked = dist.select("pid", "cid", "d", F.row_number().over(wr).alias("rn"))
    ab = (
        ranked.filter(F.col("rn") <= 2)
        .groupBy("pid")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("a"),
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cluster"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("b"),
        )
    )
    sil = ab.select(
        "pid",
        "cluster",
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("s"),
    )
    return (
        sil.groupBy(F.col("cluster").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.expr(
                    "aggregate(array_sort(collect_list(struct(pid, s))), "
                    "cast(0 as double), (acc, e) -> acc + e.s)"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("centroid_id")
    )


@register(
    "ftl_regret_replay",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS m,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    months AS (SELECT DISTINCT m FROM li),
    brands AS (SELECT DISTINCT brand FROM li),
    grid AS (
      SELECT b.brand, mo.m, COALESCE(li.rev, CAST(0 AS DECIMAL(18,2)))
               AS rev
      FROM brands b CROSS JOIN months mo
      LEFT JOIN li ON li.brand = b.brand AND li.m = mo.m),
    cum AS (
      SELECT brand, m, rev,
             SUM(rev) OVER (PARTITION BY brand ORDER BY m) AS cumrev
      FROM grid),
    leader AS (
      SELECT m, brand AS leader_brand
      FROM (SELECT m, brand,
                   ROW_NUMBER() OVER (PARTITION BY m
                     ORDER BY cumrev DESC, brand) AS rn
            FROM cum) WHERE rn = 1),
    midx AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS i FROM months),
    rewards AS (
      SELECT mt.m, ld.leader_brand, g.rev AS reward
      FROM midx mt
      JOIN midx mprev ON mprev.i = mt.i - 1
      JOIN leader ld ON ld.m = mprev.m
      JOIN grid g ON g.m = mt.m AND g.brand = ld.leader_brand),
    best AS (
      SELECT MAX(tot) AS best_total FROM (
        SELECT brand, SUM(rev) AS tot FROM grid GROUP BY brand)),
    traced AS (
      SELECT m, leader_brand, reward,
             SUM(reward) OVER (ORDER BY m) AS cum_reward
      FROM rewards)
    SELECT t.m AS month, t.leader_brand,
           CAST(ROUND(t.reward, 2) AS DOUBLE) AS reward,
           CAST(ROUND(t.cum_reward, 2) AS DOUBLE) AS cum_reward,
           CAST(ROUND(b.best_total - t.cum_reward, 2) AS DOUBLE)
             AS regret_vs_best
    FROM traced t, best b
    ORDER BY month
    """,
)
def ftl_regret_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Follow-the-leader online-learning replay with exact regret
    accounting: each month you "play" the brand with the highest
    CUMULATIVE revenue so far (strictly using information through t−1),
    collect that brand's month-t revenue, and track the shortfall
    versus the best single brand in hindsight — the textbook regret
    curve, evaluated on real data with DECIMAL-exact arithmetic. One
    fact aggregate; the replay itself runs on the 25×~80 brand-month
    grid (windows, no loops)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.to_date("o_orderdate"))
            .cast("date")
            .alias("m"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    rev = op_cache.track(rev.cache())
    months = rev.select("m").distinct()
    brands = rev.select("brand").distinct()
    grid = (
        brands.crossJoin(months)
        .join(rev, ["brand", "m"], "left")
        .select(
            "brand",
            "m",
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)")).alias(
                "rev"
            ),
        )
    )
    grid = op_cache.track(grid.cache())
    wcum = Window.partitionBy("brand").orderBy("m")
    cum = grid.select(
        "brand", "m", "rev", F.sum("rev").over(wcum).alias("cumrev")
    )
    wl = Window.partitionBy("m").orderBy(F.desc("cumrev"), "brand")
    leader = (
        cum.select("m", "brand", F.row_number().over(wl).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("m", F.col("brand").alias("leader_brand"))
    )
    wm = Window.orderBy("m")
    midx = months.select("m", F.row_number().over(wm).alias("i"))
    mt = midx.select(F.col("m").alias("mt"), F.col("i").alias("it"))
    mp = midx.select(F.col("m").alias("mp"), F.col("i").alias("ip"))
    rewards = (
        mt.join(mp, F.col("ip") == F.col("it") - 1)
        .join(leader, F.col("m") == F.col("mp"))
        .drop("m")
        .join(
            grid.select(
                F.col("m").alias("gm"),
                F.col("brand").alias("gb"),
                F.col("rev").alias("reward"),
            ),
            (F.col("gm") == F.col("mt"))
            & (F.col("gb") == F.col("leader_brand")),
        )
        .select(F.col("mt").alias("m"), "leader_brand", "reward")
    )
    best = (
        grid.groupBy("brand")
        .agg(F.sum("rev").alias("tot"))
        .agg(F.max("tot").alias("best_total"))
    )
    wt = Window.orderBy("m")
    traced = rewards.select(
        "m",
        "leader_brand",
        "reward",
        F.sum("reward").over(wt).alias("cum_reward"),
    )
    return (
        traced.crossJoin(F.broadcast(best))
        .select(
            F.col("m").alias("month"),
            "leader_brand",
            F.round("reward", 2).cast("double").alias("reward"),
            F.round("cum_reward", 2).cast("double").alias("cum_reward"),
            F.round(F.col("best_total") - F.col("cum_reward"), 2)
            .cast("double")
            .alias("regret_vs_best"),
        )
        .orderBy("month")
    )


@register(
    "shift_share_decomposition",
    oracle="""
    WITH base AS (
      SELECT r.r_name AS region,
             CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) <= 1995
                  THEN 1 ELSE 2 END AS period,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    wide AS (
      SELECT region,
             MAX(CASE WHEN period = 1 THEN rev END) AS r1,
             MAX(CASE WHEN period = 2 THEN rev END) AS r2
      FROM base GROUP BY region),
    tot AS (
      SELECT SUM(r1) AS t1, SUM(r2) AS t2 FROM wide),
    dec AS (
      SELECT w.region,
             CAST(w.r1 AS DOUBLE) AS rev1, CAST(w.r2 AS DOUBLE) AS rev2,
             CAST(w.r2 - w.r1 AS DOUBLE) AS actual_growth,
             CAST(w.r1 AS DOUBLE)
               * (CAST(tot.t2 AS DOUBLE) / CAST(tot.t1 AS DOUBLE) - 1)
               AS expected_growth
      FROM wide w, tot)
    SELECT region, ROUND(rev1, 2) AS rev_p1, ROUND(rev2, 2) AS rev_p2,
           ROUND(actual_growth, 2) AS actual_growth,
           ROUND(expected_growth, 2) AS national_effect,
           ROUND(actual_growth - expected_growth, 2) AS competitive_effect
    FROM dec
    ORDER BY region
    """,
)
def shift_share_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of regional revenue growth between the
    early (≤1995) and late periods: each region's actual growth splits
    into the NATIONAL effect (what it would have gained growing at the
    overall rate, r1·(T2/T1 − 1)) and the COMPETITIVE effect (the
    residual out/under-performance) — the standard answer to "did the
    region grow, or did the market". Revenue stays DECIMAL through
    every sum; three broadcast dimension hops, one fact aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    base = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.when(F.year("o_orderdate") <= 1995, 1).otherwise(2).alias(
                "period"
            ),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    wide = base.groupBy("region").agg(
        F.max(F.when(F.col("period") == 1, F.col("rev"))).alias("r1"),
        F.max(F.when(F.col("period") == 2, F.col("rev"))).alias("r2"),
    )
    wide = op_cache.track(wide.cache())
    tot = wide.agg(F.sum("r1").alias("t1"), F.sum("r2").alias("t2"))
    dec = wide.crossJoin(F.broadcast(tot)).select(
        "region",
        F.col("r1").cast("double").alias("rev1"),
        F.col("r2").cast("double").alias("rev2"),
        (F.col("r2") - F.col("r1")).cast("double").alias("actual_growth"),
        (
            F.col("r1").cast("double")
            * (F.col("t2").cast("double") / F.col("t1").cast("double") - 1)
        ).alias("expected_growth"),
    )
    return dec.select(
        "region",
        F.round("rev1", 2).alias("rev_p1"),
        F.round("rev2", 2).alias("rev_p2"),
        F.round("actual_growth", 2).alias("actual_growth"),
        F.round("expected_growth", 2).alias("national_effect"),
        F.round(F.col("actual_growth") - F.col("expected_growth"), 2).alias(
            "competitive_effect"
        ),
    ).orderBy("region")


@register(
    "fisher_price_index",
    oracle="""
    WITH base AS (
      SELECT l.l_partkey AS pk,
             CASE WHEN EXTRACT(YEAR FROM o.o_orderdate) <= 1995
                  THEN 1 ELSE 2 END AS period,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS e,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    wide AS (
      SELECT pk,
             MAX(CASE WHEN period = 1 THEN e END) AS e1,
             MAX(CASE WHEN period = 1 THEN q END) AS q1,
             MAX(CASE WHEN period = 2 THEN e END) AS e2,
             MAX(CASE WHEN period = 2 THEN q END) AS q2
      FROM base GROUP BY pk
      HAVING MAX(CASE WHEN period = 1 THEN q END) IS NOT NULL
         AND MAX(CASE WHEN period = 2 THEN q END) IS NOT NULL),
    px AS (
      SELECT pk,
             CAST(e1 AS DOUBLE) / CAST(q1 AS DOUBLE) AS p1,
             CAST(e2 AS DOUBLE) / CAST(q2 AS DOUBLE) AS p2,
             CAST(q1 AS DOUBLE) AS q1, CAST(q2 AS DOUBLE) AS q2
      FROM wide),
    sums AS (
      SELECT
        list_reduce(list(p2 * q1 ORDER BY pk), (a, b) -> a + b) AS l_num,
        list_reduce(list(p1 * q1 ORDER BY pk), (a, b) -> a + b) AS l_den,
        list_reduce(list(p2 * q2 ORDER BY pk), (a, b) -> a + b) AS p_num,
        list_reduce(list(p1 * q2 ORDER BY pk), (a, b) -> a + b) AS p_den,
        COUNT(*) AS n_parts
      FROM px)
    SELECT CAST(n_parts AS BIGINT) AS n_parts,
           ROUND(l_num / l_den, 6) AS laspeyres,
           ROUND(p_num / p_den, 6) AS paasche,
           ROUND(SQRT((l_num / l_den) * (p_num / p_den)), 6) AS fisher
    FROM sums
    """,
)
def fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher ideal price indices between the
    early (≤1995) and late periods: per-part unit prices are
    revenue/quantity ratios, the indices weight price relatives by
    base- vs current-period quantity baskets, and Fisher is their
    geometric mean — index-number theory, the defensible answer to
    "how much did prices move". Parts present in both periods only;
    basket sums fold part-ascending; one fact aggregate feeds
    everything."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.when(F.year("o_orderdate") <= 1995, 1).otherwise(2).alias(
                "period"
            ),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("e"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
        )
    )
    wide = (
        base.groupBy("pk")
        .agg(
            F.max(F.when(F.col("period") == 1, F.col("e"))).alias("e1"),
            F.max(F.when(F.col("period") == 1, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("period") == 2, F.col("e"))).alias("e2"),
            F.max(F.when(F.col("period") == 2, F.col("q"))).alias("q2"),
        )
        .filter(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    px = wide.select(
        "pk",
        (F.col("e1").cast("double") / F.col("q1").cast("double")).alias("p1"),
        (F.col("e2").cast("double") / F.col("q2").cast("double")).alias("p2"),
        F.col("q1").cast("double").alias("q1d"),
        F.col("q2").cast("double").alias("q2d"),
    )
    sums = px.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(pk, p2 * q1d AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("l_num"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pk, p1 * q1d AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("l_den"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pk, p2 * q2d AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("p_num"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(pk, p1 * q2d AS t))), "
            "cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("p_den"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return sums.select(
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.round(F.col("l_num") / F.col("l_den"), 6).alias("laspeyres"),
        F.round(F.col("p_num") / F.col("p_den"), 6).alias("paasche"),
        F.round(
            F.sqrt((F.col("l_num") / F.col("l_den")) * (F.col("p_num") / F.col("p_den"))),
            6,
        ).alias("fisher"),
    )


@register(
    "capture_recapture_estimate",
    oracle="""
    WITH s1 AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    s2 AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    counts AS (
      SELECT (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2,
             (SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id)) AS m,
             (SELECT COUNT(DISTINCT user_id) FROM events) AS truth)
    SELECT CAST(n1 AS BIGINT) AS capture_1, CAST(n2 AS BIGINT) AS capture_2,
           CAST(m AS BIGINT) AS recaptured,
           CAST(truth AS BIGINT) AS true_population,
           ROUND(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                 / CAST(m + 1 AS DOUBLE) - 1, 6) AS chapman_estimate,
           ROUND((CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                  / CAST(m + 1 AS DOUBLE) - 1)
                 / CAST(truth AS DOUBLE), 6) AS estimate_ratio
    FROM counts
    """,
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture population estimate: treat clickers and
    viewers as two capture occasions, count the overlap, and estimate
    the total population as (n1+1)(n2+1)/(m+1) − 1 — the ecology
    estimator that also sizes "how many users/entities exist that we
    only partially observe" (e.g. dedup-cluster undercount). The truth
    column makes the estimator's bias auditable. Three distinct-count
    aggregates + one semi-join."""
    ev = _t(spark, sf_dir, "events")
    s1 = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    s2 = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    n1 = s1.count()
    n2 = s2.count()
    m = s1.join(s2, "user_id").count()
    truth = ev.select("user_id").distinct().count()
    chapman = float((n1 + 1) * (n2 + 1)) / float(m + 1) - 1
    return spark.createDataFrame(
        [
            (
                n1,
                n2,
                m,
                truth,
                round(chapman, 6),
                round(chapman / float(truth), 6),
            )
        ],
        "capture_1 bigint, capture_2 bigint, recaptured bigint, "
        "true_population bigint, chapman_estimate double, "
        "estimate_ratio double",
    )


@register(
    "obrien_fleming_replay",
    oracle=f"""
    WITH bounds AS (
      SELECT * FROM (VALUES
        (1, CAST({_OBF_BOUNDS[0]} AS DOUBLE)),
        (2, CAST({_OBF_BOUNDS[1]} AS DOUBLE)),
        (3, CAST({_OBF_BOUNDS[2]} AS DOUBLE)),
        (4, CAST({_OBF_BOUNDS[3]} AS DOUBLE))) AS b(look, z_bound)),
    weeks AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y,
             LEAST(CAST((EXTRACT(DAY FROM MIN(ts)) - 1) // 7 AS INT), 3) + 1
               AS week
      FROM events GROUP BY user_id),
    looks AS (
      SELECT b.look,
             SUM(CASE WHEN w.week <= b.look AND w.arm = 1 THEN 1
                 ELSE 0 END) AS nt,
             SUM(CASE WHEN w.week <= b.look AND w.arm = 1 THEN w.y
                 ELSE 0 END) AS xt,
             SUM(CASE WHEN w.week <= b.look AND w.arm = 0 THEN 1
                 ELSE 0 END) AS nc,
             SUM(CASE WHEN w.week <= b.look AND w.arm = 0 THEN w.y
                 ELSE 0 END) AS xc
      FROM bounds b CROSS JOIN weeks w
      GROUP BY b.look),
    zs AS (
      SELECT l.look, l.nt, l.nc, l.xt, l.xc,
             CASE WHEN l.nt = 0 OR l.nc = 0 OR l.xt + l.xc = 0
                       OR l.xt + l.xc = l.nt + l.nc THEN NULL
                  ELSE (CAST(l.xt AS DOUBLE) / CAST(l.nt AS DOUBLE)
                        - CAST(l.xc AS DOUBLE) / CAST(l.nc AS DOUBLE))
                       / SQRT(CAST(l.xt + l.xc AS DOUBLE)
                              / CAST(l.nt + l.nc AS DOUBLE)
                              * (1 - CAST(l.xt + l.xc AS DOUBLE)
                                     / CAST(l.nt + l.nc AS DOUBLE))
                              * (1 / CAST(l.nt AS DOUBLE)
                                 + 1 / CAST(l.nc AS DOUBLE))) END AS z
      FROM looks l)
    SELECT z.look AS look, CAST(z.nt + z.nc AS BIGINT) AS n_users,
           ROUND(z.z, 6) AS z_statistic, b.z_bound,
           CASE WHEN z.z IS NOT NULL AND ABS(z.z) >= b.z_bound
                THEN 1 ELSE 0 END AS crosses
    FROM zs z JOIN bounds b ON b.look = z.look
    ORDER BY look
    """,
)
def obrien_fleming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential testing replay with O'Brien-Fleming boundaries:
    four weekly interim looks at the arm difference in error-heavy
    rates, each compared against the pinned OBF two-sided boundaries
    (4.33, 2.96, 2.36, 2.01) that spend almost no alpha early — the
    standard machinery for peeking at experiments without inflating
    false positives (SPRT's fixed-schedule sibling). Users enter at
    their first-event week; looks are cumulative integer counts, one
    aggregate over the 4×users grid."""
    ev = _t(spark, sf_dir, "events")
    weeks = ev.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
        (
            F.least(
                ((F.dayofmonth(F.min("ts")) - 1) / 7).cast("int"), F.lit(3)
            )
            + 1
        ).alias("week"),
    )
    weeks = weeks.select(
        (F.col("user_id") % 2).alias("arm"), "y", "week"
    )
    bounds = spark.createDataFrame(
        [(i + 1, b) for i, b in enumerate(_OBF_BOUNDS)],
        "look int, z_bound double",
    )
    looks = (
        bounds.crossJoin(weeks)
        .groupBy("look")
        .agg(
            F.sum(
                F.when((F.col("week") <= F.col("look")) & (F.col("arm") == 1), 1).otherwise(0)
            ).alias("nt"),
            F.sum(
                F.when(
                    (F.col("week") <= F.col("look")) & (F.col("arm") == 1),
                    F.col("y"),
                ).otherwise(0)
            ).alias("xt"),
            F.sum(
                F.when((F.col("week") <= F.col("look")) & (F.col("arm") == 0), 1).otherwise(0)
            ).alias("nc"),
            F.sum(
                F.when(
                    (F.col("week") <= F.col("look")) & (F.col("arm") == 0),
                    F.col("y"),
                ).otherwise(0)
            ).alias("xc"),
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    pbar = (F.col("xt") + F.col("xc")).cast("double") / (
        F.col("nt") + F.col("nc")
    ).cast("double")
    degenerate = (
        (F.col("nt") == 0)
        | (F.col("nc") == 0)
        | (F.col("xt") + F.col("xc") == 0)
        | (F.col("xt") + F.col("xc") == F.col("nt") + F.col("nc"))
    )
    z = looks.select(
        "look",
        "nt",
        "nc",
        F.when(degenerate, F.lit(None))
        .otherwise(
            (dd("xt") / dd("nt") - dd("xc") / dd("nc"))
            / F.sqrt(pbar * (1 - pbar) * (1 / dd("nt") + 1 / dd("nc")))
        )
        .alias("z"),
    )
    return (
        z.join(F.broadcast(bounds), "look")
        .select(
            F.col("look").alias("look"),
            (F.col("nt") + F.col("nc")).cast("bigint").alias("n_users"),
            F.round("z", 6).alias("z_statistic"),
            "z_bound",
            F.when(
                F.col("z").isNotNull()
                & (F.abs(F.col("z")) >= F.col("z_bound")),
                1,
            )
            .otherwise(0)
            .alias("crosses"),
        )
        .orderBy("look")
    )


@register(
    "selectivity_histogram_audit",
    oracle="""
    WITH stats AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
             COUNT(*) AS n
      FROM orders),
    binned AS (
      SELECT LEAST(CAST(FLOOR((o_totalprice - s.lo) * 20
                               / (s.hi - s.lo)) AS INT), 19) AS b,
             COUNT(*) AS c
      FROM orders, stats s
      GROUP BY 1),
    preds AS (
      SELECT * FROM (VALUES
        (1, CAST(100000 AS DOUBLE), CAST(200000 AS DOUBLE)),
        (2, CAST(250000 AS DOUBLE), CAST(400000 AS DOUBLE)),
        (3, CAST(50000 AS DOUBLE), CAST(120000 AS DOUBLE)))
        AS p(pid, a, bnd)),
    est AS (
      SELECT p.pid, p.a, p.bnd,
             list_reduce(list(
               CAST(bi.c AS DOUBLE) *
               GREATEST(CAST(0 AS DOUBLE),
                 LEAST(p.bnd, s.lo + (bi.b + 1) * (s.hi - s.lo) / 20)
                 - GREATEST(p.a, s.lo + bi.b * (s.hi - s.lo) / 20))
               / ((s.hi - s.lo) / 20)
               ORDER BY bi.b), (x, y) -> x + y) AS est_rows
      FROM preds p, binned bi, stats s
      GROUP BY p.pid, p.a, p.bnd),
    truth AS (
      SELECT p.pid, COUNT(*) AS true_rows
      FROM preds p JOIN orders o
        ON o.o_totalprice >= p.a AND o.o_totalprice < p.bnd
      GROUP BY p.pid)
    SELECT e.pid AS predicate_id, ROUND(e.a, 2) AS range_lo,
           ROUND(e.bnd, 2) AS range_hi,
           ROUND(e.est_rows, 4) AS estimated_rows,
           CAST(t.true_rows AS BIGINT) AS true_rows,
           ROUND(e.est_rows / CAST(t.true_rows AS DOUBLE), 6)
             AS q_error_ratio
    FROM est e JOIN truth t ON t.pid = e.pid
    ORDER BY predicate_id
    """,
)
def selectivity_histogram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-optimizer selectivity audit: build a 20-bin equi-width
    histogram of order prices, estimate the row count of three range
    predicates by fractional bin interpolation (exactly what a
    cost-based optimizer does), and compare against the true counts
    with the q-error ratio — the measurement behind "why did the
    optimizer pick that join order". Histogram + three predicate
    probes are all single-aggregate passes; the interpolation folds
    bin-ascending."""
    orders = _t(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = (
        orders.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    * 20
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
                F.lit(19),
            ).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    preds = spark.createDataFrame(
        [
            (1, 100000.0, 200000.0),
            (2, 250000.0, 400000.0),
            (3, 50000.0, 120000.0),
        ],
        "pid int, a double, bnd double",
    )
    bin_lo = F.col("lo") + F.col("b") * (F.col("hi") - F.col("lo")) / 20
    bin_hi = F.col("lo") + (F.col("b") + 1) * (F.col("hi") - F.col("lo")) / 20
    overlap = F.greatest(
        F.lit(0.0),
        F.least(F.col("bnd"), bin_hi) - F.greatest(F.col("a"), bin_lo),
    )
    est = (
        preds.crossJoin(binned)
        .crossJoin(F.broadcast(stats))
        .select(
            "pid",
            "a",
            "bnd",
            "b",
            (
                F.col("c").cast("double")
                * overlap
                / ((F.col("hi") - F.col("lo")) / 20)
            ).alias("t"),
        )
        .groupBy("pid", "a", "bnd")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(b, t))), "
                "cast(0 as double), (acc, e) -> acc + e.t)"
            ).alias("est_rows")
        )
    )
    truth = (
        preds.crossJoin(orders)
        .filter(
            (F.col("o_totalprice") >= F.col("a"))
            & (F.col("o_totalprice") < F.col("bnd"))
        )
        .groupBy(F.col("pid").alias("tpid"))
        .agg(F.count(F.lit(1)).alias("true_rows"))
    )
    return (
        est.join(truth, F.col("tpid") == F.col("pid"))
        .select(
            F.col("pid").alias("predicate_id"),
            F.round("a", 2).alias("range_lo"),
            F.round("bnd", 2).alias("range_hi"),
            F.round("est_rows", 4).alias("estimated_rows"),
            F.col("true_rows").cast("bigint").alias("true_rows"),
            F.round(
                F.col("est_rows") / F.col("true_rows").cast("double"), 6
            ).alias("q_error_ratio"),
        )
        .orderBy("predicate_id")
    )


@register(
    "hamilton_apportionment",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name),
    tot AS (SELECT SUM(r) AS t FROM rev),
    quota AS (
      SELECT nation, r,
             CAST(r AS DOUBLE) * 100 / CAST(tot.t AS DOUBLE) AS q,
             CAST(FLOOR(CAST(r AS DOUBLE) * 100
                        / CAST(tot.t AS DOUBLE)) AS BIGINT) AS fl
      FROM rev, tot),
    short AS (
      SELECT 100 - SUM(fl) AS remaining FROM quota),
    ranked AS (
      SELECT nation, r, q, fl,
             ROW_NUMBER() OVER (ORDER BY q - fl DESC, nation) AS rk
      FROM quota)
    SELECT rk2.nation,
           ROUND(rk2.q, 6) AS exact_quota,
           CAST(rk2.fl AS BIGINT) AS floor_seats,
           CAST(CASE WHEN rk2.rk <= s.remaining THEN 1 ELSE 0 END AS INT)
             AS remainder_seat,
           CAST(rk2.fl + CASE WHEN rk2.rk <= s.remaining THEN 1 ELSE 0 END
                AS BIGINT) AS seats
    FROM ranked rk2, short s
    ORDER BY seats DESC, nation
    """,
)
def hamilton_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a fixed budget of
    100 units across nations proportional to revenue: floor the exact
    quotas, then hand the leftover units to the largest fractional
    remainders — the exact integer allocation used for seat
    apportionment, sample quotas, and shard budgets (how you split
    1000 executors across tenants without over-allocating). Quotas
    from DECIMAL revenue sums; one window over 25 rows."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        (
            F.col("r").cast("double") * 100 / F.col("t").cast("double")
        ).alias("q"),
        F.floor(
            F.col("r").cast("double") * 100 / F.col("t").cast("double")
        )
        .cast("bigint")
        .alias("fl"),
    )
    quota = op_cache.track(quota.cache())
    short = quota.agg((F.lit(100) - F.sum("fl")).alias("remaining"))
    wr = Window.orderBy(F.desc(F.col("q") - F.col("fl")), "nation")
    ranked = quota.select(
        "nation", "q", "fl", F.row_number().over(wr).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "nation",
            F.round("q", 6).alias("exact_quota"),
            F.col("fl").cast("bigint").alias("floor_seats"),
            F.when(F.col("rk") <= F.col("remaining"), 1)
            .otherwise(0)
            .cast("int")
            .alias("remainder_seat"),
            (
                F.col("fl")
                + F.when(F.col("rk") <= F.col("remaining"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("seats"),
        )
        .orderBy(F.desc("seats"), "nation")
    )


@register(
    "trimmed_mean_embedding",
    oracle="""
    WITH pts AS (
      SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
             unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS val
      FROM embeddings),
    ranked AS (
      SELECT dim, vec_id, val,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY val, vec_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM pts),
    kept AS (
      SELECT dim, vec_id, val, n
      FROM ranked
      WHERE rk > n // 10 AND rk <= n - n // 10),
    agg AS (
      SELECT k.dim,
             list_reduce(list(k.val ORDER BY k.vec_id), (a, b) -> a + b)
               AS ts,
             COUNT(*) AS tn
      FROM kept k GROUP BY k.dim),
    full_agg AS (
      SELECT dim,
             list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b) AS fs,
             COUNT(*) AS fn
      FROM pts GROUP BY dim)
    SELECT CAST(a.dim AS INT) AS dim,
           ROUND(f.fs / CAST(f.fn AS DOUBLE), 6) AS mean,
           ROUND(a.ts / CAST(a.tn AS DOUBLE), 6) AS trimmed_mean,
           CAST(f.fn - a.tn AS BIGINT) AS n_trimmed
    FROM agg a JOIN full_agg f ON f.dim = a.dim
    ORDER BY dim
    """,
)
def trimmed_mean_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate-wise 10% trimmed mean of the embedding table — the
    Byzantine-robust aggregation rule from federated learning: each
    dimension independently drops its top and bottom decile before
    averaging, so a small fraction of corrupted/outlier vectors cannot
    drag the aggregate. Reported against the plain mean per dimension.
    One explode + one per-dimension window; kept-value sums fold
    vector-ascending. The scale shape of robust gradient aggregation:
    shuffle keyed on dimension, never on vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("val"),
    )
    pts = op_cache.track(pts.cache())
    wr = Window.partitionBy("dim").orderBy("val", "vec_id")
    wn = Window.partitionBy("dim")
    ranked = pts.select(
        "dim",
        "vec_id",
        "val",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rk") > F.expr("n DIV 10"))
        & (F.col("rk") <= F.col("n") - F.expr("n DIV 10"))
    )
    agg = kept.groupBy("dim").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(vec_id, val))), "
            "cast(0 as double), (acc, e) -> acc + e.val)"
        ).alias("ts"),
        F.count(F.lit(1)).alias("tn"),
    )
    full_agg = pts.groupBy("dim").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(vec_id, val))), "
            "cast(0 as double), (acc, e) -> acc + e.val)"
        ).alias("fs"),
        F.count(F.lit(1)).alias("fn"),
    )
    return (
        agg.join(full_agg, "dim")
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("fs") / F.col("fn").cast("double"), 6).alias("mean"),
            F.round(F.col("ts") / F.col("tn").cast("double"), 6).alias(
                "trimmed_mean"
            ),
            (F.col("fn") - F.col("tn")).cast("bigint").alias("n_trimmed"),
        )
        .orderBy("dim")
    )


@register(
    "geometric_median_weiszfeld",
    oracle="""
    WITH pts AS (
      SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
             unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS val
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT dim,
             list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS c
      FROM pts GROUP BY dim),
    d1 AS MATERIALIZED (
      SELECT p.vec_id,
             SQRT(list_reduce(list((p.val - c.c) * (p.val - c.c)
                                   ORDER BY p.dim), (a, b) -> a + b)) AS d
      FROM pts p JOIN c0 c ON c.dim = p.dim
      GROUP BY p.vec_id),
    c1 AS MATERIALIZED (
      SELECT p.dim,
             list_reduce(list(p.val / d.d ORDER BY p.vec_id),
                         (a, b) -> a + b)
             / list_reduce(list(1 / d.d ORDER BY p.vec_id),
                           (a, b) -> a + b) AS c
      FROM pts p JOIN d1 d ON d.vec_id = p.vec_id
      GROUP BY p.dim),
    d2 AS MATERIALIZED (
      SELECT p.vec_id,
             SQRT(list_reduce(list((p.val - c.c) * (p.val - c.c)
                                   ORDER BY p.dim), (a, b) -> a + b)) AS d
      FROM pts p JOIN c1 c ON c.dim = p.dim
      GROUP BY p.vec_id),
    c2 AS (
      SELECT p.dim,
             list_reduce(list(p.val / d.d ORDER BY p.vec_id),
                         (a, b) -> a + b)
             / list_reduce(list(1 / d.d ORDER BY p.vec_id),
                           (a, b) -> a + b) AS c
      FROM pts p JOIN d2 d ON d.vec_id = p.vec_id
      GROUP BY p.dim)
    SELECT CAST(c2.dim AS INT) AS dim,
           ROUND(c0.c, 6) AS coord_mean,
           ROUND(c2.c, 6) AS geometric_median
    FROM c2 JOIN c0 ON c0.dim = c2.dim
    ORDER BY dim
    """,
)
def geometric_median_weiszfeld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of the embedding cloud by two Weiszfeld
    iterations from the coordinate mean: y ← Σ(x_i/d_i) / Σ(1/d_i)
    with d_i the current Euclidean distance — the rotation-invariant
    robust center (breakdown point ½) that the trimmed mean
    approximates coordinate-wise. Per-point distances fold
    dimension-ascending, per-dimension weighted sums fold
    vector-ascending; each iteration is two keyed aggregates — exactly
    the robust-aggregation round a federated trainer runs."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("val"),
    )
    pts = op_cache.track(pts.cache())
    c0 = pts.groupBy("dim").agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(vec_id, val))), "
                "cast(0 as double), (acc, e) -> acc + e.val)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    c0 = op_cache.track(c0.cache())

    def dist_to(center: DataFrame) -> DataFrame:
        return (
            pts.join(F.broadcast(center), "dim")
            .groupBy("vec_id")
            .agg(
                F.sqrt(
                    F.expr(
                        "aggregate(array_sort(collect_list(struct(dim, "
                        "(val - c) * (val - c) AS sq))), "
                        "cast(0 as double), (acc, e) -> acc + e.sq)"
                    )
                ).alias("d")
            )
        )

    def step(center: DataFrame) -> DataFrame:
        d = dist_to(center)
        return (
            pts.join(d, "vec_id")
            .groupBy("dim")
            .agg(
                (
                    F.expr(
                        "aggregate(array_sort(collect_list(struct(vec_id, "
                        "val / d AS t))), "
                        "cast(0 as double), (acc, e) -> acc + e.t)"
                    )
                    / F.expr(
                        "aggregate(array_sort(collect_list(struct(vec_id, "
                        "1 / d AS t))), "
                        "cast(0 as double), (acc, e) -> acc + e.t)"
                    )
                ).alias("c")
            )
        )

    c1 = op_cache.track(step(c0).cache())
    c2 = step(c1)
    return (
        c2.join(
            c0.select(F.col("dim").alias("d0"), F.col("c").alias("cm")),
            F.col("d0") == F.col("dim"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round("cm", 6).alias("coord_mean"),
            F.round("c", 6).alias("geometric_median"),
        )
        .orderBy("dim")
    )


@register("submodular_coverage_selection", oracle=_submod_oracle())
def submodular_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular maximum-coverage selection: pick 5 documents
    (from a 200-doc candidate pool) that together cover the most
    distinct vocabulary, one greedy round at a time — the classic
    (1-1/e)-approximate diverse-subset primitive behind "choose the K
    most informative examples". Each round is one anti-join (tokens
    not yet covered) + one argmax; only the single winning doc_id is
    collected per round (aggregate-scale driver state). Marginal gains
    shrink round over round — the submodularity you can read off the
    output."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
                )
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    dt = op_cache.track(dt.cache())
    utot = dt.select("w").distinct().count()
    covered = dt.select("w").filter(F.lit(False))
    rows = []
    for r in range(1, 6):
        gains = (
            dt.join(covered, "w", "left_anti")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .collect()
        )
        if not gains:
            break  # vocabulary exhausted — oracle also emits no more rows
        win_doc, win_gain = gains[0]["doc_id"], gains[0]["gain"]
        covered = (
            covered.unionAll(
                dt.filter(F.col("doc_id") == win_doc).select("w")
            ).distinct()
        )
        covered = op_cache.track(covered.cache())
        n_cov = covered.count()
        rows.append(
            (
                r,
                win_doc,
                win_gain,
                n_cov,
                round(float(n_cov) / float(utot), 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "round int, doc_id bigint, marginal_gain bigint, "
        "tokens_covered bigint, coverage_ratio double",
    ).orderBy("round")


@register("mmr_diversified_rerank", oracle=_mmr_oracle())
def mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking: starting from pure cosine
    relevance to probe vector 0, greedily pick 5 results maximizing
    0.7·relevance − 0.3·(max similarity to anything already picked) —
    the diversification step every retrieval stack bolts onto its ANN
    results so the top-k isn't five copies of the same document.
    Relevance and pairwise-similarity tables compute once (one
    broadcast join each); each greedy round is an anti-join + argmax
    with only the winner collected."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cands = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    rel = cands.crossJoin(F.broadcast(q)).select(
        "cid", sim_mod.cosine(F.col("qv"), F.col("cv")).alias("rel")
    )
    rel = op_cache.track(rel.cache())
    a = cands.select(F.col("cid").alias("ca"), F.col("cv").alias("va"))
    b = cands.select(F.col("cid").alias("cb"), F.col("cv").alias("vb"))
    sims = a.join(b, F.col("ca") != F.col("cb")).select(
        "ca", "cb", sim_mod.cosine(F.col("va"), F.col("vb")).alias("sim")
    )
    sims = op_cache.track(sims.cache())
    selected: list[int] = []
    rows = []
    for r in range(1, 6):
        pool = rel.filter(~F.col("cid").isin(selected)) if selected else rel
        if selected:
            pen = (
                sims.filter(F.col("cb").isin(selected))
                .groupBy("ca")
                .agg(F.max("sim").alias("pen"))
            )
            scored = pool.join(
                pen, F.col("ca") == F.col("cid"), "left"
            ).select(
                "cid",
                "rel",
                (
                    F.lit(0.7).cast("double") * F.col("rel")
                    - F.lit(0.3).cast("double")
                    * F.coalesce(F.col("pen"), F.lit(0.0))
                ).alias("mmr"),
            )
        else:
            scored = pool.select(
                "cid",
                "rel",
                (
                    F.lit(0.7).cast("double") * F.col("rel")
                    - F.lit(0.3).cast("double") * F.lit(0.0)
                ).alias("mmr"),
            )
        win = scored.orderBy(F.desc("mmr"), "cid").limit(1).collect()[0]
        selected.append(win["cid"])
        rows.append((r, win["cid"], round(win["mmr"], 6), round(win["rel"], 6)))
    return spark.createDataFrame(
        rows, "round int, vec_id bigint, mmr_score double, relevance double"
    ).orderBy("round")


@register(
    "panel_fixed_effects_slope",
    oracle="""
    WITH panel AS (
      SELECT n.n_name AS unit,
             CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS t,
             COUNT(*) AS x,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    um AS (
      SELECT unit,
             list_reduce(list(CAST(x AS DOUBLE) ORDER BY t), (a,b) -> a+b)
             / CAST(COUNT(*) AS DOUBLE) AS xu,
             list_reduce(list(y ORDER BY t), (a,b) -> a+b)
             / CAST(COUNT(*) AS DOUBLE) AS yu
      FROM panel GROUP BY unit),
    tm AS (
      SELECT t,
             list_reduce(list(CAST(x AS DOUBLE) ORDER BY unit), (a,b) -> a+b)
             / CAST(COUNT(*) AS DOUBLE) AS xt,
             list_reduce(list(y ORDER BY unit), (a,b) -> a+b)
             / CAST(COUNT(*) AS DOUBLE) AS yt
      FROM panel GROUP BY t),
    gm AS (
      SELECT list_reduce(list(CAST(x AS DOUBLE) ORDER BY unit, t),
                         (a,b) -> a+b) / CAST(COUNT(*) AS DOUBLE) AS xg,
             list_reduce(list(y ORDER BY unit, t), (a,b) -> a+b)
             / CAST(COUNT(*) AS DOUBLE) AS yg,
             COUNT(*) AS n
      FROM panel),
    dem AS (
      SELECT p.unit, p.t,
             CAST(p.x AS DOUBLE) - um.xu - tm.xt + gm.xg AS xd,
             p.y - um.yu - tm.yt + gm.yg AS yd
      FROM panel p
      JOIN um ON um.unit = p.unit
      JOIN tm ON tm.t = p.t, gm),
    s AS (
      SELECT
        list_reduce(list(xd * yd ORDER BY unit, t), (a,b) -> a+b) AS sxy,
        list_reduce(list(xd * xd ORDER BY unit, t), (a,b) -> a+b) AS sxx
      FROM dem)
    SELECT CAST(gm.n AS BIGINT) AS n_cells,
           ROUND(s.sxy / s.sxx, 6) AS within_slope,
           ROUND(s.sxx, 4) AS demeaned_x_ss
    FROM s, gm
    """,
)
def panel_fixed_effects_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects (within) estimator on the nation×month
    panel: revenue regressed on order count after demeaning by unit
    means, time means, and adding back the grand mean — the panel
    econometrics workhorse that absorbs every time-invariant nation
    effect and every nation-invariant month shock before estimating
    the slope. All means and the final moment sums fold in pinned
    orders; the panel itself is one fact aggregate (25×~80 cells)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    panel = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            F.col("n_name").alias("unit"),
            F.date_trunc("month", F.to_date("o_orderdate"))
            .cast("date")
            .alias("t"),
        )
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y"),
        )
    )
    panel = op_cache.track(panel.cache())
    um = panel.groupBy("unit").agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(t, "
                "CAST(x AS DOUBLE) AS xv))), "
                "cast(0 as double), (acc, e) -> acc + e.xv)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("xu"),
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(t, y))), "
                "cast(0 as double), (acc, e) -> acc + e.y)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("yu"),
    )
    tm = panel.groupBy("t").agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(unit, "
                "CAST(x AS DOUBLE) AS xv))), "
                "cast(0 as double), (acc, e) -> acc + e.xv)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("xt"),
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(unit, y))), "
                "cast(0 as double), (acc, e) -> acc + e.y)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("yt"),
    )
    gm = panel.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(unit, t, "
                "CAST(x AS DOUBLE) AS xv))), "
                "cast(0 as double), (acc, e) -> acc + e.xv)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("xg"),
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(unit, t, y))), "
                "cast(0 as double), (acc, e) -> acc + e.y)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("yg"),
        F.count(F.lit(1)).alias("n"),
    )
    gm = op_cache.track(gm.cache())
    dem = (
        panel.join(F.broadcast(um), "unit")
        .join(F.broadcast(tm), "t")
        .crossJoin(F.broadcast(gm))
        .select(
            "unit",
            "t",
            (
                F.col("x").cast("double")
                - F.col("xu")
                - F.col("xt")
                + F.col("xg")
            ).alias("xd"),
            (F.col("y") - F.col("yu") - F.col("yt") + F.col("yg")).alias("yd"),
        )
    )
    s = dem.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(unit, t, "
            "xd * yd AS p))), "
            "cast(0 as double), (acc, e) -> acc + e.p)"
        ).alias("sxy"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(unit, t, "
            "xd * xd AS p))), "
            "cast(0 as double), (acc, e) -> acc + e.p)"
        ).alias("sxx"),
    )
    return s.crossJoin(F.broadcast(gm)).select(
        F.col("n").cast("bigint").alias("n_cells"),
        F.round(F.col("sxy") / F.col("sxx"), 6).alias("within_slope"),
        F.round("sxx", 4).alias("demeaned_x_ss"),
    )


@register(
    "selection_logdet_diversity",
    oracle="""
    WITH rel AS (
      SELECT b.vec_id AS cid,
             (list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                           FOR i IN range(1, len(a.embedding)+1)], (x, y) -> x + y)
              / (SQRT(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                                   FOR i IN range(1, len(a.embedding)+1)], (x, y) -> x + y))
                 * SQRT(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                                     FOR i IN range(1, len(b.embedding)+1)], (x, y) -> x + y))))
               AS rel
      FROM embeddings a JOIN embeddings b
        ON a.vec_id = 0 AND b.vec_id >= 5),
    top3 AS (
      SELECT cid, ROW_NUMBER() OVER (ORDER BY rel DESC, cid) AS rk
      FROM rel),
    sel AS (SELECT cid, rk FROM top3 WHERE rk <= 3),
    k AS (
      SELECT sa.rk AS i, sb.rk AS j,
             (list_reduce([CAST(a.embedding[i2] AS DOUBLE) * CAST(b.embedding[i2] AS DOUBLE)
                           FOR i2 IN range(1, len(a.embedding)+1)], (x, y) -> x + y)
              / (SQRT(list_reduce([CAST(a.embedding[i2] AS DOUBLE) * CAST(a.embedding[i2] AS DOUBLE)
                                   FOR i2 IN range(1, len(a.embedding)+1)], (x, y) -> x + y))
                 * SQRT(list_reduce([CAST(b.embedding[i2] AS DOUBLE) * CAST(b.embedding[i2] AS DOUBLE)
                                     FOR i2 IN range(1, len(b.embedding)+1)], (x, y) -> x + y))))
               AS s
      FROM sel sa JOIN embeddings a ON a.vec_id = sa.cid
      JOIN sel sb ON TRUE
      JOIN embeddings b ON b.vec_id = sb.cid),
    wide AS (
      SELECT
        MAX(CASE WHEN i = 1 AND j = 1 THEN s END) AS k11,
        MAX(CASE WHEN i = 1 AND j = 2 THEN s END) AS k12,
        MAX(CASE WHEN i = 1 AND j = 3 THEN s END) AS k13,
        MAX(CASE WHEN i = 2 AND j = 2 THEN s END) AS k22,
        MAX(CASE WHEN i = 2 AND j = 3 THEN s END) AS k23,
        MAX(CASE WHEN i = 3 AND j = 3 THEN s END) AS k33
      FROM k)
    SELECT ROUND(k11 * (k22 * k33 - k23 * k23)
                 - k12 * (k12 * k33 - k23 * k13)
                 + k13 * (k12 * k23 - k22 * k13), 9) AS gram_det,
           ROUND(LN(k11 * (k22 * k33 - k23 * k23)
                    - k12 * (k12 * k33 - k23 * k13)
                    + k13 * (k12 * k23 - k22 * k13)), 6) AS logdet_diversity,
           ROUND(k12, 6) AS sim_12, ROUND(k13, 6) AS sim_13,
           ROUND(k23, 6) AS sim_23
    FROM wide
    """,
)
def selection_logdet_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Determinantal (DPP-style) diversity score of a retrieval
    selection: the log-determinant of the 3×3 cosine-similarity kernel
    of the top-3-by-relevance results — the volume the selected
    vectors span (0 when two results are near-duplicates, maximal when
    orthogonal), the quantity DPP samplers maximize and the right
    single-number audit for "is my top-k redundant". The kernel is 9
    numbers; the determinant uses the same symmetric 3×3 expansion as
    the GLM solve."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cands = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    rel = cands.crossJoin(F.broadcast(q)).select(
        "cid", sim_mod.cosine(F.col("qv"), F.col("cv")).alias("rel")
    )
    sel = (
        rel.select(
            "cid",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), "cid"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )
    sa = sel.join(
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("va")),
        "cid",
    ).select(F.col("rk").alias("i"), "va")
    sb = sel.join(
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("vb")),
        "cid",
    ).select(F.col("rk").alias("j"), "vb")
    k = sa.crossJoin(sb).select(
        "i", "j", sim_mod.cosine(F.col("va"), F.col("vb")).alias("s")
    )
    cell = lambda i, j: F.max(  # noqa: E731
        F.when((F.col("i") == i) & (F.col("j") == j), F.col("s"))
    )
    wide = k.agg(
        cell(1, 1).alias("k11"),
        cell(1, 2).alias("k12"),
        cell(1, 3).alias("k13"),
        cell(2, 2).alias("k22"),
        cell(2, 3).alias("k23"),
        cell(3, 3).alias("k33"),
    )
    det = (
        F.col("k11") * (F.col("k22") * F.col("k33") - F.col("k23") * F.col("k23"))
        - F.col("k12") * (F.col("k12") * F.col("k33") - F.col("k23") * F.col("k13"))
        + F.col("k13") * (F.col("k12") * F.col("k23") - F.col("k22") * F.col("k13"))
    )
    return wide.select(
        F.round(det, 9).alias("gram_det"),
        F.round(F.log(det), 6).alias("logdet_diversity"),
        F.round("k12", 6).alias("sim_12"),
        F.round("k13", 6).alias("sim_13"),
        F.round("k23", 6).alias("sim_23"),
    )


@register(
    "gpd_tail_fit_pwm",
    oracle="""
    WITH thresh AS (
      SELECT o_totalprice AS u FROM (
        SELECT o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                 AS rn,
               COUNT(*) OVER () AS n
        FROM orders) WHERE rn = n // 20 + 1),
    exc AS (
      SELECT o.o_totalprice - t.u AS x, o.o_orderkey
      FROM orders o, thresh t WHERE o.o_totalprice > t.u),
    ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS i,
             COUNT(*) OVER () AS n
      FROM exc),
    pwm AS (
      SELECT
        list_reduce(list(x ORDER BY i), (a, b) -> a + b)
          / CAST(MAX(n) AS DOUBLE) AS b0,
        list_reduce(list(CAST(i - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) * x
                         ORDER BY i), (a, b) -> a + b)
          / CAST(MAX(n) AS DOUBLE) AS b1,
        MAX(n) AS n
      FROM ranked),
    fit AS (
      SELECT n, b0, b1,
             b0 / (b0 - 2 * b1) - 2 AS xi,
             2 * b0 * b1 / (b0 - 2 * b1) AS sigma
      FROM pwm)
    SELECT CAST(n AS BIGINT) AS n_exceedances,
           ROUND((SELECT u FROM thresh), 2) AS threshold,
           ROUND(b0, 6) AS mean_excess,
           ROUND(xi, 6) AS shape_xi,
           ROUND(sigma, 6) AS scale_sigma
    FROM fit
    """,
)
def gpd_tail_fit_pwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-Pareto tail fit by probability-weighted moments:
    exceedances over the empirical 95th-percentile threshold give
    b0 (mean excess) and b1 (the PWM Σ((i−1)/(n−1))·x_(i)/n), from
    which ξ = b0/(b0−2b1) − 2 and σ = 2b0b1/(b0−2b1) — the
    extreme-value model behind "how bad can the tail get", closing the
    loop the Hill estimator opens. Threshold via distributed top-k
    rank; PWM sums fold rank-ascending."""
    orders = _t(spark, sf_dir, "orders")
    wr = Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
    wc = Window.partitionBy()
    thresh = (
        orders.select(
            "o_totalprice",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("n DIV 20") + 1)
        .select(F.col("o_totalprice").alias("u"))
    )
    exc = orders.crossJoin(F.broadcast(thresh)).filter(
        F.col("o_totalprice") > F.col("u")
    ).select((F.col("o_totalprice") - F.col("u")).alias("x"), "o_orderkey")
    wi = Window.orderBy("x", "o_orderkey")
    ranked = exc.select(
        "x",
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    pwm = ranked.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(i, x))), "
                "cast(0 as double), (acc, e) -> acc + e.x)"
            )
            / F.max("n").cast("double")
        ).alias("b0"),
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(i, "
                "CAST(i - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) * x AS t))), "
                "cast(0 as double), (acc, e) -> acc + e.t)"
            )
            / F.max("n").cast("double")
        ).alias("b1"),
        F.max("n").alias("n"),
    )
    fit = pwm.select(
        "n",
        "b0",
        (F.col("b0") / (F.col("b0") - 2 * F.col("b1")) - 2).alias("xi"),
        (
            2 * F.col("b0") * F.col("b1") / (F.col("b0") - 2 * F.col("b1"))
        ).alias("sigma"),
    )
    return fit.crossJoin(F.broadcast(thresh)).select(
        F.col("n").cast("bigint").alias("n_exceedances"),
        F.round("u", 2).alias("threshold"),
        F.round("b0", 6).alias("mean_excess"),
        F.round("xi", 6).alias("shape_xi"),
        F.round("sigma", 6).alias("scale_sigma"),
    )


@register(
    "kupiec_var_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1),
    chg AS (
      SELECT d, rev - LAG(rev) OVER (ORDER BY d) AS delta
      FROM daily),
    c2 AS (SELECT d, delta FROM chg WHERE delta IS NOT NULL),
    var95 AS (
      SELECT delta AS v FROM (
        SELECT delta, ROW_NUMBER() OVER (ORDER BY delta, d) AS rn,
               COUNT(*) OVER () AS n
        FROM c2) WHERE rn = n // 20 + 1),
    exc AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN c2.delta < var95.v THEN 1 ELSE 0 END) AS x
      FROM c2, var95),
    lr AS (
      SELECT n, x,
             CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS realized,
             -2 * (CAST(n - x AS DOUBLE) * LN(CAST(0.95 AS DOUBLE))
                   + CAST(x AS DOUBLE) * LN(CAST(0.05 AS DOUBLE))
                   - CAST(n - x AS DOUBLE)
                     * LN(1 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                   - CAST(x AS DOUBLE)
                     * LN(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))
               AS lr_pof
      FROM exc)
    SELECT CAST(n AS BIGINT) AS n_days, CAST(x AS BIGINT) AS exceedances,
           ROUND((SELECT v FROM var95), 2) AS var_threshold,
           ROUND(realized, 6) AS realized_rate,
           ROUND(lr_pof, 6) AS kupiec_lr
    FROM lr
    """,
)
def kupiec_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest: the empirical 5%
    value-at-risk of daily revenue CHANGES, the count of days breaching
    it, and the likelihood-ratio statistic −2ln[L(p=0.05)/L(p=x/n)]
    that says whether the breach rate is consistent with the stated
    coverage — the regulatory test for any quantile forecast (SLO
    budgets included). Daily deltas via one lag window; the in-sample
    check is intentionally self-consistent (≈5% breaches by
    construction) so the statistic's null behavior is auditable."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    wd = Window.orderBy("d")
    chg = daily.select(
        "d", (F.col("rev") - F.lag("rev").over(wd)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    chg = op_cache.track(chg.cache())
    wrn = Window.orderBy("delta", "d")
    wc = Window.partitionBy()
    var95 = (
        chg.select(
            "delta",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("n DIV 20") + 1)
        .select(F.col("delta").alias("v"))
    )
    exc = chg.crossJoin(F.broadcast(var95)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("delta") < F.col("v"), 1).otherwise(0)).alias("x"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    rate = dd("x") / dd("n")
    lr = (
        F.lit(-2).cast("double")
        * (
            (F.col("n") - F.col("x")).cast("double")
            * F.log(F.lit(0.95).cast("double"))
            + dd("x") * F.log(F.lit(0.05).cast("double"))
            - (F.col("n") - F.col("x")).cast("double") * F.log(1 - rate)
            - dd("x") * F.log(rate)
        )
    )
    return exc.crossJoin(F.broadcast(var95)).select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("x").cast("bigint").alias("exceedances"),
        F.round("v", 2).alias("var_threshold"),
        F.round(rate, 6).alias("realized_rate"),
        F.round(lr, 6).alias("kupiec_lr"),
    )


@register(
    "topk_turnover_stability",
    oracle="""
    WITH monthly AS (
      SELECT p.p_brand AS brand,
             CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS m,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT m, brand,
             ROW_NUMBER() OVER (PARTITION BY m
                                ORDER BY rev DESC, brand) AS rk
      FROM monthly),
    topk AS (SELECT m, brand FROM ranked WHERE rk <= 10),
    months AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS i
      FROM (SELECT DISTINCT m FROM topk)),
    pairs AS (
      SELECT a.m AS m_prev, b.m AS m_curr
      FROM months a JOIN months b ON b.i = a.i + 1),
    overlap AS (
      SELECT p.m_curr,
             SUM(CASE WHEN tp.brand IS NOT NULL THEN 1 ELSE 0 END)
               AS kept
      FROM pairs p
      JOIN topk tc ON tc.m = p.m_curr
      LEFT JOIN topk tp ON tp.m = p.m_prev AND tp.brand = tc.brand
      GROUP BY p.m_curr)
    SELECT m_curr AS month, CAST(kept AS BIGINT) AS kept_in_top10,
           CAST(10 - kept AS BIGINT) AS churned,
           ROUND(CAST(10 - kept AS DOUBLE) / CAST(10 AS DOUBLE), 2)
             AS turnover_rate
    FROM overlap
    ORDER BY month
    """,
)
def topk_turnover_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month turnover of the top-10 brand leaderboard: how
    many of this month's top-10 were also top-10 last month, and the
    churn rate — the stability audit for any ranking you publish
    (trending lists, leaderboards, retrieval snapshots). One fact
    aggregate, one per-month rank window, one self-join of the tiny
    top-k table."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    monthly = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.to_date("o_orderdate"))
            .cast("date")
            .alias("m"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    wr = Window.partitionBy("m").orderBy(F.desc("rev"), "brand")
    topk = (
        monthly.select("m", "brand", F.row_number().over(wr).alias("rk"))
        .filter(F.col("rk") <= 10)
        .select("m", "brand")
    )
    topk = op_cache.track(topk.cache())
    wm = Window.orderBy("m")
    months = topk.select("m").distinct().select(
        "m", F.row_number().over(wm).alias("i")
    )
    a = months.select(F.col("m").alias("m_prev"), F.col("i").alias("ia"))
    b = months.select(F.col("m").alias("m_curr"), F.col("i").alias("ib"))
    pairs = a.join(b, F.col("ib") == F.col("ia") + 1)
    tc = topk.select(F.col("m").alias("mc"), F.col("brand").alias("bc"))
    tp = topk.select(F.col("m").alias("mp"), F.col("brand").alias("bp"))
    overlap = (
        pairs.join(tc, F.col("mc") == F.col("m_curr"))
        .join(
            tp,
            (F.col("mp") == F.col("m_prev")) & (F.col("bp") == F.col("bc")),
            "left",
        )
        .groupBy("m_curr")
        .agg(
            F.sum(F.when(F.col("bp").isNotNull(), 1).otherwise(0)).alias(
                "kept"
            )
        )
    )
    return overlap.select(
        F.col("m_curr").alias("month"),
        F.col("kept").cast("bigint").alias("kept_in_top10"),
        (F.lit(10) - F.col("kept")).cast("bigint").alias("churned"),
        F.round(
            (F.lit(10) - F.col("kept")).cast("double")
            / F.lit(10).cast("double"),
            2,
        ).alias("turnover_rate"),
    ).orderBy("month")


@register(
    "anova_oneway_f",
    oracle="""
    WITH obs AS (
      SELECT n.n_name AS g, CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey),
    grp AS (
      SELECT g, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS ss
      FROM obs GROUP BY g),
    tot AS (
      SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss, COUNT(*) AS k
      FROM grp),
    parts AS (
      SELECT tot.n, tot.k,
             CAST(tot.ss AS DOUBLE)
               - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS sst,
             (SELECT list_reduce(list(
                 CAST(grp.s AS DOUBLE) * CAST(grp.s AS DOUBLE)
                 / CAST(grp.n AS DOUBLE) ORDER BY grp.g),
                 (a, b) -> a + b) FROM grp)
               - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS ssb
      FROM tot)
    SELECT CAST(n AS BIGINT) AS n_orders, CAST(k AS BIGINT) AS n_groups,
           ROUND(ssb / CAST(1000000 AS DOUBLE), 4) AS ss_between_m,
           ROUND((sst - ssb) / CAST(1000000 AS DOUBLE), 4) AS ss_within_m,
           ROUND((ssb / CAST(k - 1 AS DOUBLE))
                 / ((sst - ssb) / CAST(n - k AS DOUBLE)), 6) AS f_statistic
    FROM parts
    """,
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic for order totals across customer
    nations: between-group and within-group sums of squares from
    DECIMAL-exact group moments (Σx, Σx² never touch floats until the
    final ratios), F = (SSB/(k−1))/(SSW/(n−k)) — the "does the segment
    matter at all" omnibus test that precedes any pairwise digging.
    One fact aggregate; the 25-group fold is broadcast-scale."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    obs = (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("g"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        )
    )
    grp = obs.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    grp = op_cache.track(grp.cache())
    tot = grp.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.count(F.lit(1)).alias("k"),
    )
    ssb_fold = grp.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(g, "
            "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) "
            "AS t))), cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("fold")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    parts = tot.crossJoin(F.broadcast(ssb_fold)).select(
        "n",
        "k",
        (d("ss") - d("s") * d("s") / d("n")).alias("sst"),
        (F.col("fold") - d("s") * d("s") / d("n")).alias("ssb"),
    )
    return parts.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("bigint").alias("n_groups"),
        F.round(F.col("ssb") / F.lit(1000000).cast("double"), 4).alias(
            "ss_between_m"
        ),
        F.round(
            (F.col("sst") - F.col("ssb")) / F.lit(1000000).cast("double"), 4
        ).alias("ss_within_m"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            / ((F.col("sst") - F.col("ssb")) / (F.col("n") - F.col("k")).cast("double")),
            6,
        ).alias("f_statistic"),
    )


@register(
    "levene_median_test",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS g,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             o_orderkey
      FROM orders),
    med AS (
      SELECT g, x AS m FROM (
        SELECT g, x,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, o_orderkey)
                 AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM obs) WHERE rn = (n + 1) // 2),
    z AS (
      SELECT o.g, ABS(o.x - med.m) AS z
      FROM obs o JOIN med ON med.g = o.g),
    grp AS (
      SELECT g, COUNT(*) AS n, SUM(z) AS s, SUM(z*z) AS ss
      FROM z GROUP BY g),
    tot AS (
      SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss, COUNT(*) AS k
      FROM grp),
    parts AS (
      SELECT tot.n, tot.k,
             CAST(tot.ss AS DOUBLE)
               - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS sst,
             (SELECT list_reduce(list(
                 CAST(grp.s AS DOUBLE) * CAST(grp.s AS DOUBLE)
                 / CAST(grp.n AS DOUBLE) ORDER BY grp.g),
                 (a, b) -> a + b) FROM grp)
               - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS ssb
      FROM tot)
    SELECT CAST(n AS BIGINT) AS n_orders, CAST(k AS BIGINT) AS n_groups,
           ROUND((ssb / CAST(k - 1 AS DOUBLE))
                 / ((sst - ssb) / CAST(n - k AS DOUBLE)), 6)
             AS levene_w
    FROM parts
    """,
)
def levene_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe/Levene test for equality of variances across
    order priorities: ANOVA-F applied to |x − group median| (the
    median-centered variant that survives heavy tails). Group medians
    are exact nearest-rank DECIMALs, so every |deviation| and moment
    sum stays exact until the final F ratio — the variance-homogeneity
    gate you check BEFORE trusting a plain ANOVA. Two windows + two
    aggregates."""
    orders = _t(spark, sf_dir, "orders")
    obs = orders.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        "o_orderkey",
    )
    obs = op_cache.track(obs.cache())
    wrn = Window.partitionBy("g").orderBy("x", "o_orderkey")
    wn = Window.partitionBy("g")
    med = (
        obs.select(
            "g",
            "x",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("g", F.col("x").alias("m"))
    )
    z = obs.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("m")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("ss"),
    )
    grp = op_cache.track(grp.cache())
    tot = grp.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.count(F.lit(1)).alias("k"),
    )
    fold = grp.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(g, "
            "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) "
            "AS t))), cast(0 as double), (acc, e) -> acc + e.t)"
        ).alias("fold")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    parts = tot.crossJoin(F.broadcast(fold)).select(
        "n",
        "k",
        (d("ss") - d("s") * d("s") / d("n")).alias("sst"),
        (F.col("fold") - d("s") * d("s") / d("n")).alias("ssb"),
    )
    return parts.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("bigint").alias("n_groups"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            / (
                (F.col("sst") - F.col("ssb"))
                / (F.col("n") - F.col("k")).cast("double")
            ),
            6,
        ).alias("levene_w"),
    )


@register(
    "runs_test_randomness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    med AS (
      SELECT rev AS m FROM (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
               COUNT(*) OVER () AS n
        FROM daily) WHERE rn = (n + 1) // 2),
    signs AS (
      SELECT d, CASE WHEN rev > med.m THEN 1 ELSE 0 END AS s
      FROM daily, med WHERE rev <> med.m),
    flips AS (
      SELECT s, CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                     OR LAG(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END
               AS new_run
      FROM signs),
    agg AS (
      SELECT SUM(new_run) AS runs,
             SUM(s) AS n1, SUM(1 - s) AS n2
      FROM flips),
    z AS (
      SELECT runs, n1, n2,
             1 + 2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / CAST(n1 + n2 AS DOUBLE) AS mu,
             (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 - CAST(n1 + n2 AS DOUBLE)))
             / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                * CAST(n1 + n2 - 1 AS DOUBLE)) AS var
      FROM agg)
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           ROUND(mu, 6) AS expected_runs,
           ROUND((CAST(runs AS DOUBLE) - mu) / SQRT(var), 6) AS z
    FROM z
    """,
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its median: count
    the runs of consecutive above/below-median days and compare against
    the expected 1 + 2n₁n₂/n under randomness — too FEW runs means
    regime persistence (trends), too many means oscillation; either way
    your i.i.d. assumptions are wrong before any forecasting starts.
    Median by exact rank; run boundaries from one lag window; exact
    integer counts into the closed-form z."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    daily = op_cache.track(daily.cache())
    wrn = Window.orderBy("rev", "d")
    wc = Window.partitionBy()
    med = (
        daily.select(
            "rev",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("rev").alias("m"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select(
            "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    wd = Window.orderBy("d")
    flips = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.agg(
        F.sum("new_run").alias("runs"),
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nn = (F.col("n1") + F.col("n2")).cast("double")
    mu = 1 + 2 * d("n1") * d("n2") / nn
    var = (
        2 * d("n1") * d("n2") * (2 * d("n1") * d("n2") - nn)
    ) / (nn * nn * (F.col("n1") + F.col("n2") - 1).cast("double"))
    return agg.select(
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("runs").cast("bigint").alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((d("runs") - mu) / F.sqrt(var), 6).alias("z"),
    )


@register(
    "ljung_box_q",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY m) AS i FROM monthly),
    mean_ AS (
      SELECT list_reduce(list(x ORDER BY i), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS mu, COUNT(*) AS n
      FROM idx),
    dev AS (
      SELECT idx.i, idx.x - mean_.mu AS e FROM idx, mean_),
    denom AS (
      SELECT list_reduce(list(e * e ORDER BY i), (a, b) -> a + b) AS c0
      FROM dev),
    lags AS (SELECT unnest(range(1, 11)) AS k),
    acf AS (
      SELECT l.k,
             list_reduce(list(a.e * b.e ORDER BY a.i), (x, y) -> x + y)
             / d.c0 AS r
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.i = a.i + l.k, denom d
      GROUP BY l.k, d.c0),
    q AS (
      SELECT list_reduce(list(
               r * r / CAST(mn.n - k AS DOUBLE) ORDER BY k),
               (a, b) -> a + b)
             * CAST(mn.n AS DOUBLE) * CAST(mn.n + 2 AS DOUBLE) AS q,
             mn.n
      FROM acf, mean_ mn
      GROUP BY mn.n)
    SELECT CAST(n AS BIGINT) AS n_months, 10 AS max_lag,
           ROUND(q, 6) AS ljung_box_q
    FROM q
    """,
)
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic on monthly revenue:
    Q = n(n+2)·Σ_{k≤10} r_k²/(n−k) over the first ten autocorrelations
    — the "is there ANY serial structure left" test you run on model
    residuals before trusting forecast intervals. Autocorrelations
    come from index-aligned self-joins of the demeaned series with
    pinned fold orders; the series is the monthly aggregate, so the
    quadratic work is 80×10 rows."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    wm = Window.orderBy("m")
    idx = monthly.select("x", F.row_number().over(wm).alias("i"))
    idx = op_cache.track(idx.cache())
    mean_ = idx.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(i, x))), "
                "cast(0 as double), (acc, e) -> acc + e.x)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    mean_ = op_cache.track(mean_.cache())
    dev = idx.crossJoin(F.broadcast(mean_)).select(
        "i", (F.col("x") - F.col("mu")).alias("e")
    )
    dev = op_cache.track(dev.cache())
    denom = dev.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(i, e * e AS s))), "
            "cast(0 as double), (acc, e) -> acc + e.s)"
        ).alias("c0")
    )
    lags = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    a = dev.select(F.col("i").alias("ia"), F.col("e").alias("ea"))
    b = dev.select(F.col("i").alias("ib"), F.col("e").alias("eb"))
    acf = (
        lags.crossJoin(a)
        .join(b, F.col("ib") == F.col("ia") + F.col("k"))
        .groupBy("k")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(ia, "
                "ea * eb AS p))), "
                "cast(0 as double), (acc, e) -> acc + e.p)"
            ).alias("num")
        )
        .crossJoin(F.broadcast(denom))
        .select("k", (F.col("num") / F.col("c0")).alias("r"))
    )
    q = (
        acf.crossJoin(F.broadcast(mean_))
        .groupBy("n")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(k, "
                "r * r / CAST(n - k AS DOUBLE) AS t))), "
                "cast(0 as double), (acc, e) -> acc + e.t)"
            ).alias("fold")
        )
        .select(
            "n",
            (
                F.col("fold")
                * F.col("n").cast("double")
                * (F.col("n") + 2).cast("double")
            ).alias("q"),
        )
    )
    return q.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.lit(10).alias("max_lag"),
        F.round("q", 6).alias("ljung_box_q"),
    )


@register(
    "kendall_tau_b",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             COUNT(*) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN (b.x - a.x) > 0 AND b.y > a.y THEN 1
                  WHEN (b.x - a.x) < 0 AND b.y < a.y THEN 1
                  ELSE 0 END AS conc,
             CASE WHEN (b.x - a.x) > 0 AND b.y < a.y THEN 1
                  WHEN (b.x - a.x) < 0 AND b.y > a.y THEN 1
                  ELSE 0 END AS disc,
             CASE WHEN b.x = a.x AND b.y <> a.y THEN 1 ELSE 0 END AS tx,
             CASE WHEN b.y = a.y AND b.x <> a.x THEN 1 ELSE 0 END AS ty,
             CASE WHEN b.x = a.x AND b.y = a.y THEN 1 ELSE 0 END AS txy
      FROM monthly a JOIN monthly b ON b.m > a.m),
    s AS (
      SELECT SUM(conc) AS c, SUM(disc) AS d, SUM(tx) AS tx,
             SUM(ty) AS ty, SUM(txy) AS txy, COUNT(*) AS np
      FROM pairs)
    SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           CAST(tx + txy AS BIGINT) AS ties_x,
           CAST(ty + txy AS BIGINT) AS ties_y,
           ROUND(CAST(c - d AS DOUBLE)
                 / SQRT(CAST(np - tx - txy AS DOUBLE)
                        * CAST(np - ty - txy AS DOUBLE)), 6) AS tau_b
    FROM s
    """,
)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between monthly order volume and monthly revenue:
    concordant/discordant pair counts with full tie correction —
    the rank correlation whose pair semantics survive heavy ties where
    Spearman's midranks get awkward. Aggregate to the monthly series
    FIRST (80 rows), then count pairs exactly; every input to the
    final ratio is an integer."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
    )
    monthly = op_cache.track(monthly.cache())
    a = monthly.select(
        F.col("m").alias("ma"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = monthly.select(
        F.col("m").alias("mb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("mb") > F.col("ma")).select(
        F.when(
            ((F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")))
            | ((F.col("xb") < F.col("xa")) & (F.col("yb") < F.col("ya"))),
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            ((F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")))
            | ((F.col("xb") < F.col("xa")) & (F.col("yb") > F.col("ya"))),
            1,
        )
        .otherwise(0)
        .alias("disc"),
        F.when(
            (F.col("xb") == F.col("xa")) & (F.col("yb") != F.col("ya")), 1
        )
        .otherwise(0)
        .alias("tx"),
        F.when(
            (F.col("yb") == F.col("ya")) & (F.col("xb") != F.col("xa")), 1
        )
        .otherwise(0)
        .alias("ty"),
        F.when(
            (F.col("xb") == F.col("xa")) & (F.col("yb") == F.col("ya")), 1
        )
        .otherwise(0)
        .alias("txy"),
    )
    s = pairs.agg(
        F.sum("conc").alias("c"),
        F.sum("disc").alias("d"),
        F.sum("tx").alias("tx"),
        F.sum("ty").alias("ty"),
        F.sum("txy").alias("txy"),
        F.count(F.lit(1)).alias("np"),
    )
    return s.select(
        F.col("c").cast("bigint").alias("concordant"),
        F.col("d").cast("bigint").alias("discordant"),
        (F.col("tx") + F.col("txy")).cast("bigint").alias("ties_x"),
        (F.col("ty") + F.col("txy")).cast("bigint").alias("ties_y"),
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(
                (F.col("np") - F.col("tx") - F.col("txy")).cast("double")
                * (F.col("np") - F.col("ty") - F.col("txy")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


@register(
    "durbin_watson_residuals",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY m) AS DOUBLE) AS t
      FROM monthly),
    mom AS (
      SELECT COUNT(*) AS n,
             list_reduce(list(t ORDER BY t), (a, b) -> a + b) AS st,
             list_reduce(list(t * t ORDER BY t), (a, b) -> a + b) AS stt,
             list_reduce(list(y ORDER BY t), (a, b) -> a + b) AS sy,
             list_reduce(list(t * y ORDER BY t), (a, b) -> a + b) AS sty
      FROM idx),
    fit AS (
      SELECT (CAST(n AS DOUBLE) * sty - st * sy)
             / (CAST(n AS DOUBLE) * stt - st * st) AS slope,
             sy / CAST(n AS DOUBLE) AS ybar,
             st / CAST(n AS DOUBLE) AS tbar
      FROM mom),
    res AS (
      SELECT idx.t,
             idx.y - (fit.ybar + fit.slope * (idx.t - fit.tbar)) AS e
      FROM idx, fit),
    dw AS (
      SELECT
        (SELECT list_reduce(list((b.e - a.e) * (b.e - a.e) ORDER BY a.t),
                            (x, y) -> x + y)
         FROM res a JOIN res b ON b.t = a.t + 1) AS num,
        (SELECT list_reduce(list(e * e ORDER BY t), (x, y) -> x + y)
         FROM res) AS den)
    SELECT ROUND(num / den, 6) AS durbin_watson,
           ROUND(num, 4) AS sum_sq_diff, ROUND(den, 4) AS sum_sq_resid
    FROM dw
    """,
)
def durbin_watson_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the monthly-revenue
    linear trend: DW = Σ(e_t − e_{t−1})²/Σe_t² — near 2 means the
    trend model left no serial correlation, near 0 means momentum the
    model missed (and your OLS standard errors are fiction). The OLS
    fit uses fold-exact moments; residual sums fold time-ascending;
    the consecutive-difference join is on the 80-row series."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    wm = Window.orderBy("m")
    idx = monthly.select(
        "y", F.row_number().over(wm).cast("double").alias("t")
    )
    idx = op_cache.track(idx.cache())
    mom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, t AS v))), "
            "cast(0 as double), (acc, e) -> acc + e.v)"
        ).alias("st"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, t * t AS v))), "
            "cast(0 as double), (acc, e) -> acc + e.v)"
        ).alias("stt"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, y))), "
            "cast(0 as double), (acc, e) -> acc + e.y)"
        ).alias("sy"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, t * y AS v))), "
            "cast(0 as double), (acc, e) -> acc + e.v)"
        ).alias("sty"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fit = mom.select(
        (
            (d("n") * F.col("sty") - F.col("st") * F.col("sy"))
            / (d("n") * F.col("stt") - F.col("st") * F.col("st"))
        ).alias("slope"),
        (F.col("sy") / d("n")).alias("ybar"),
        (F.col("st") / d("n")).alias("tbar"),
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        (
            F.col("y")
            - (F.col("ybar") + F.col("slope") * (F.col("t") - F.col("tbar")))
        ).alias("e"),
    )
    res = op_cache.track(res.cache())
    a = res.select(F.col("t").alias("ta"), F.col("e").alias("ea"))
    b = res.select(F.col("t").alias("tb"), F.col("e").alias("eb"))
    num = (
        a.join(b, F.col("tb") == F.col("ta") + 1)
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(ta, "
                "(eb - ea) * (eb - ea) AS v))), "
                "cast(0 as double), (acc, e) -> acc + e.v)"
            ).alias("num")
        )
    )
    den = res.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(t, e * e AS v))), "
            "cast(0 as double), (acc, e) -> acc + e.v)"
        ).alias("den")
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.round(F.col("num") / F.col("den"), 6).alias("durbin_watson"),
        F.round("num", 4).alias("sum_sq_diff"),
        F.round("den", 4).alias("sum_sq_resid"),
    )


@register(
    "moods_median_test",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS g,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey
      FROM orders),
    med AS (
      SELECT x AS m FROM (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM obs) WHERE rn = (n + 1) // 2),
    cells AS (
      SELECT g,
             SUM(CASE WHEN o.x > med.m THEN 1 ELSE 0 END) AS above,
             SUM(CASE WHEN o.x <= med.m THEN 1 ELSE 0 END) AS below
      FROM obs o, med GROUP BY g),
    tot AS (
      SELECT SUM(above) AS ta, SUM(below) AS tb,
             SUM(above + below) AS n
      FROM cells),
    chi AS (
      SELECT (SELECT list_reduce(list(
                (CAST(c.above AS DOUBLE)
                 - CAST((c.above + c.below) AS DOUBLE)
                   * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                * (CAST(c.above AS DOUBLE)
                   - CAST((c.above + c.below) AS DOUBLE)
                     * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                / (CAST((c.above + c.below) AS DOUBLE)
                   * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                + (CAST(c.below AS DOUBLE)
                   - CAST((c.above + c.below) AS DOUBLE)
                     * CAST(t.tb AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * (CAST(c.below AS DOUBLE)
                     - CAST((c.above + c.below) AS DOUBLE)
                       * CAST(t.tb AS DOUBLE) / CAST(t.n AS DOUBLE))
                  / (CAST((c.above + c.below) AS DOUBLE)
                     * CAST(t.tb AS DOUBLE) / CAST(t.n AS DOUBLE))
                ORDER BY c.g), (a, b) -> a + b)
              FROM cells c, tot t) AS chi2,
             (SELECT COUNT(*) FROM cells) AS k)
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(k - 1 AS BIGINT) AS dof,
           ROUND(chi2, 6) AS moods_chi2
    FROM chi
    """,
)
def moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across order priorities: classify every order
    above/at-or-below the GLOBAL exact-rank median, then the k×2
    chi-square of observed vs expected cell counts — the maximally
    assumption-free "do these groups share a center" test (only
    medians, no moments). Global median by distributed rank; the
    chi-square folds group-ascending over five 2-cell terms."""
    orders = _t(spark, sf_dir, "orders")
    obs = orders.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        "o_orderkey",
    )
    obs = op_cache.track(obs.cache())
    wrn = Window.orderBy("x", "o_orderkey")
    wc = Window.partitionBy()
    med = (
        obs.select(
            "x",
            F.row_number().over(wrn).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("x").alias("m"))
    )
    cells = (
        obs.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("x") > F.col("m"), 1).otherwise(0)).alias(
                "above"
            ),
            F.sum(F.when(F.col("x") <= F.col("m"), 1).otherwise(0)).alias(
                "below"
            ),
        )
    )
    cells = op_cache.track(cells.cache())
    tot = cells.agg(
        F.sum("above").alias("ta"),
        F.sum("below").alias("tb"),
        F.sum(F.col("above") + F.col("below")).alias("n"),
    )
    chi = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "g",
            F.expr(
                "(CAST(above AS DOUBLE) - CAST(above + below AS DOUBLE) "
                "* CAST(ta AS DOUBLE) / CAST(n AS DOUBLE)) "
                "* (CAST(above AS DOUBLE) - CAST(above + below AS DOUBLE) "
                "* CAST(ta AS DOUBLE) / CAST(n AS DOUBLE)) "
                "/ (CAST(above + below AS DOUBLE) "
                "* CAST(ta AS DOUBLE) / CAST(n AS DOUBLE)) "
                "+ (CAST(below AS DOUBLE) - CAST(above + below AS DOUBLE) "
                "* CAST(tb AS DOUBLE) / CAST(n AS DOUBLE)) "
                "* (CAST(below AS DOUBLE) - CAST(above + below AS DOUBLE) "
                "* CAST(tb AS DOUBLE) / CAST(n AS DOUBLE)) "
                "/ (CAST(above + below AS DOUBLE) "
                "* CAST(tb AS DOUBLE) / CAST(n AS DOUBLE))"
            ).alias("term"),
        )
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(g, term))), "
                "cast(0 as double), (acc, e) -> acc + e.term)"
            ).alias("chi2"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    return chi.select(
        F.col("k").cast("bigint").alias("n_groups"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.round("chi2", 6).alias("moods_chi2"),
    )


@register(
    "poisson_overdispersion_check",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
      FROM events GROUP BY user_id),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS ss FROM per_user),
    st AS (
      SELECT n,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
      FROM mom)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(mean, 6) AS mean_count,
           ROUND(var, 6) AS var_count,
           ROUND(var / mean, 6) AS dispersion_index,
           ROUND(CAST(n - 1 AS DOUBLE) * var / mean, 6)
             AS dispersion_chi2,
           CASE WHEN var / mean > 1.5 THEN 'overdispersed'
                WHEN var / mean < 0.67 THEN 'underdispersed'
                ELSE 'poisson-like' END AS verdict
    FROM st
    """,
)
def poisson_overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion diagnostics for per-user purchase counts:
    the variance-to-mean dispersion index and the χ² = (n−1)·s²/x̄
    test statistic — the check that decides whether the Poisson GLM's
    standard errors are honest or a negative-binomial model is needed.
    Exact integer moments; one user aggregate and a 1-row fold."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    st = mom.select(
        "n",
        (d("s") / d("n")).alias("mean"),
        (
            (d("n") * d("ss") - d("s") * d("s"))
            / (d("n") * (F.col("n") - 1).cast("double"))
        ).alias("var"),
    )
    ratio = F.col("var") / F.col("mean")
    return st.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round("mean", 6).alias("mean_count"),
        F.round("var", 6).alias("var_count"),
        F.round(ratio, 6).alias("dispersion_index"),
        F.round((F.col("n") - 1).cast("double") * ratio, 6).alias(
            "dispersion_chi2"
        ),
        F.when(ratio > 1.5, "overdispersed")
        .when(ratio < 0.67, "underdispersed")
        .otherwise("poisson-like")
        .alias("verdict"),
    )


@register(
    "fairness_group_metrics",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             COUNT(*) AS activity,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) > COUNT(*) THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id),
    groups AS (
      SELECT user_id, y,
             CASE WHEN c > 25 THEN 1 ELSE 0 END AS yhat,
             NTILE(3) OVER (ORDER BY activity, user_id) AS grp
      FROM per_user),
    cells AS (
      SELECT grp, COUNT(*) AS n,
             SUM(yhat) AS pos_pred,
             SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS p,
             SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS neg
      FROM groups GROUP BY grp)
    SELECT grp AS activity_tertile, CAST(n AS BIGINT) AS n_users,
           ROUND(CAST(pos_pred AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS selection_rate,
           CASE WHEN p = 0 THEN NULL
                ELSE ROUND(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
           END AS tpr,
           CASE WHEN neg = 0 THEN NULL
                ELSE ROUND(CAST(fp AS DOUBLE) / CAST(neg AS DOUBLE), 6)
           END AS fpr,
           ROUND(CAST(pos_pred AS DOUBLE) / CAST(n AS DOUBLE)
                 - MIN(CAST(pos_pred AS DOUBLE) / CAST(n AS DOUBLE))
                     OVER (), 6) AS dp_gap_vs_min
    FROM cells
    ORDER BY activity_tertile
    """,
)
def fairness_group_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of a classifier across activity tertiles:
    per-group selection rate (demographic-parity view), true/false
    positive rates (equalized-odds view), and each group's
    selection-rate gap versus the least-selected group — the metric
    battery any deployed decision rule needs sliced by cohort before
    launch. One user aggregate, one tertile window, exact counts into
    the final ratios."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.count(F.lit(1)).alias("activity"),
        F.when(
            5
            * F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    groups = per_user.select(
        "y",
        F.when(F.col("c") > 25, 1).otherwise(0).alias("yhat"),
        F.ntile(3).over(Window.orderBy("activity", "user_id")).alias("grp"),
    )
    cells = groups.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yhat").alias("pos_pred"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("p"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("neg"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sel = d("pos_pred") / d("n")
    wall = Window.partitionBy()
    return cells.select(
        F.col("grp").alias("activity_tertile"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round(sel, 6).alias("selection_rate"),
        F.when(F.col("p") == 0, F.lit(None))
        .otherwise(F.round(d("tp") / d("p"), 6))
        .alias("tpr"),
        F.when(F.col("neg") == 0, F.lit(None))
        .otherwise(F.round(d("fp") / d("neg"), 6))
        .alias("fpr"),
        F.round(sel - F.min(sel).over(wall), 6).alias("dp_gap_vs_min"),
    ).orderBy("activity_tertile")


@register(
    "ood_diagonal_mahalanobis",
    oracle="""
    WITH pts AS (
      SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS dim,
             unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS val
      FROM embeddings),
    cls AS (
      SELECT label, dim,
             list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS mu,
             (CAST(COUNT(*) AS DOUBLE)
              * list_reduce(list(val * val ORDER BY vec_id), (a, b) -> a + b)
              - list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
                * list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b))
             / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) - 1 AS DOUBLE))
               AS var
      FROM pts GROUP BY label, dim),
    scores AS (
      SELECT p.vec_id, p.label AS true_label, c.label AS cand,
             list_reduce(list((p.val - c.mu) * (p.val - c.mu) / c.var
                              ORDER BY p.dim), (a, b) -> a + b) AS d2
      FROM pts p JOIN cls c ON c.dim = p.dim
      GROUP BY p.vec_id, p.label, c.label),
    best AS (
      SELECT vec_id, true_label,
             MIN(d2) AS min_d2
      FROM scores GROUP BY vec_id, true_label)
    SELECT vec_id, CAST(true_label AS INT) AS true_label,
           ROUND(min_d2, 6) AS ood_score, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY min_d2 DESC, vec_id) AS rk
          FROM best)
    WHERE rk <= 15
    ORDER BY rank
    """,
)
def ood_diagonal_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution detection by diagonal-covariance Mahalanobis:
    per class, per-dimension means and variances define a Gaussian
    envelope; each vector's OOD score is its distance to the NEAREST
    class envelope (min over classes of Σ(x−μ)²/σ²), and the 15
    highest scores are the points no class explains — the standard
    embedding-space OOD screen scaled to where full covariance is
    impossible (diagonal stats are 2·d numbers per class, broadcast
    anywhere). Per-class stats and per-vector folds all order-pinned."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("val"),
    )
    pts = op_cache.track(pts.cache())
    sfold = (
        "aggregate(array_sort(collect_list(struct(vec_id, val))), "
        "cast(0 as double), (acc, e) -> acc + e.val)"
    )
    ssfold = (
        "aggregate(array_sort(collect_list(struct(vec_id, val * val AS vv))), "
        "cast(0 as double), (acc, e) -> acc + e.vv)"
    )
    cls = pts.groupBy("label", "dim").agg(
        F.expr(sfold).alias("s"),
        F.expr(ssfold).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.col("label").alias("cand"),
        "dim",
        (F.col("s") / F.col("n").cast("double")).alias("mu"),
        (
            (
                F.col("n").cast("double") * F.col("ss")
                - F.col("s") * F.col("s")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        ).alias("var"),
    )
    scores = (
        pts.join(F.broadcast(cls), "dim")
        .groupBy("vec_id", F.col("label").alias("true_label"), "cand")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(dim, "
                "(val - mu) * (val - mu) / var AS t))), "
                "cast(0 as double), (acc, e) -> acc + e.t)"
            ).alias("d2")
        )
    )
    best = scores.groupBy("vec_id", "true_label").agg(
        F.min("d2").alias("min_d2")
    )
    wrk = Window.orderBy(F.desc("min_d2"), "vec_id")
    return (
        best.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 15)
        .select(
            "vec_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.round("min_d2", 6).alias("ood_score"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "davies_bouldin_index",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < 8),
    pts AS (
      SELECT vec_id AS pid, embedding AS pv
      FROM embeddings WHERE vec_id >= 8),
    dist AS (
      SELECT p.pid, c.cid,
             SQRT(list_reduce([(CAST(p.pv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                               * (CAST(p.pv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                               FOR i IN range(1, len(p.pv)+1)],
                              (acc, x) -> acc + x)) AS d
      FROM pts p CROSS JOIN cent c),
    assign_ AS (
      SELECT pid, cid, d FROM (
        SELECT pid, cid, d,
               ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, cid) AS rn
        FROM dist) WHERE rn = 1),
    scatter AS (
      SELECT cid,
             list_reduce(list(d ORDER BY pid), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM assign_ GROUP BY cid),
    cdist AS (
      SELECT a.cid AS ci, b.cid AS cj,
             SQRT(list_reduce([(CAST(a.cv[i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE))
                               * (CAST(a.cv[i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE))
                               FOR i IN range(1, len(a.cv)+1)],
                              (acc, x) -> acc + x)) AS m
      FROM cent a JOIN cent b ON a.cid <> b.cid),
    ratio AS (
      SELECT cd.ci, MAX((si.s + sj.s) / cd.m) AS r
      FROM cdist cd
      JOIN scatter si ON si.cid = cd.ci
      JOIN scatter sj ON sj.cid = cd.cj
      GROUP BY cd.ci),
    db AS (
      SELECT list_reduce(list(r ORDER BY ci), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS db, COUNT(*) AS k
      FROM ratio)
    SELECT CAST(k AS BIGINT) AS n_clusters,
           ROUND(db, 6) AS davies_bouldin
    FROM db
    """,
)
def davies_bouldin_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin clustering quality index over the 8-centroid
    assignment: per-cluster scatter (mean distance to centroid), then
    DB = mean over clusters of the worst (s_i+s_j)/d(c_i,c_j) ratio —
    lower is better-separated; the silhouette's centroid-pair
    complement, and the cheap metric to track across kmeans rounds.
    Scatters fold point-ascending; the 8×8 centroid-pair table is
    driver-trivial."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    pts = emb.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pv")
    )
    sqd = F.aggregate(
        F.zip_with(
            F.col("pv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = pts.crossJoin(F.broadcast(cent)).select(
        "pid", "cid", F.sqrt(sqd).alias("d")
    )
    wr = Window.partitionBy("pid").orderBy("d", "cid")
    assign_ = (
        dist.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("pid", "cid", "d")
    )
    scatter = assign_.groupBy("cid").agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(pid, d))), "
                "cast(0 as double), (acc, e) -> acc + e.d)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("s")
    )
    a = cent.select(F.col("cid").alias("ci"), F.col("cv").alias("va"))
    b = cent.select(F.col("cid").alias("cj"), F.col("cv").alias("vb"))
    csqd = F.aggregate(
        F.zip_with(
            F.col("va"),
            F.col("vb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cdist = a.join(b, F.col("ci") != F.col("cj")).select(
        "ci", "cj", F.sqrt(csqd).alias("m")
    )
    si = scatter.select(F.col("cid").alias("ci"), F.col("s").alias("si"))
    sj = scatter.select(F.col("cid").alias("cj"), F.col("s").alias("sj"))
    ratio = (
        cdist.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .groupBy("ci")
        .agg(F.max((F.col("si") + F.col("sj")) / F.col("m")).alias("r"))
    )
    db = ratio.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(ci, r))), "
                "cast(0 as double), (acc, e) -> acc + e.r)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("db"),
        F.count(F.lit(1)).alias("k"),
    )
    return db.select(
        F.col("k").cast("bigint").alias("n_clusters"),
        F.round("db", 6).alias("davies_bouldin"),
    )


@register(
    "chatterjee_xi_dependence",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    ranked AS (
      SELECT user_id, x, y,
             ROW_NUMBER() OVER (ORDER BY x, user_id) AS xi,
             RANK() OVER (ORDER BY y, user_id) AS ry
      FROM per_user),
    diffs AS (
      SELECT a.xi,
             ABS(CAST(b.ry AS BIGINT) - CAST(a.ry AS BIGINT)) AS dr
      FROM ranked a JOIN ranked b ON b.xi = a.xi + 1),
    s AS (
      SELECT SUM(dr) AS sd, (SELECT COUNT(*) FROM ranked) AS n
      FROM diffs)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(sd AS BIGINT) AS sum_rank_jumps,
           ROUND(1 - CAST(3 * sd AS DOUBLE)
                 / CAST(n * n - 1 AS DOUBLE), 6) AS chatterjee_xi
    FROM s
    """,
)
def chatterjee_xi_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ coefficient between per-user clicks and purchases
    — the modern rank statistic that detects ANY functional dependence
    (not just monotone like Spearman/Kendall): sort by x, take y's
    ranks, and ξ = 1 − 3Σ|r_{i+1}−r_i|/(n²−1); ξ≈0 means independent,
    ξ→1 means y is a function of x. Deterministic tiebreaks make the
    rank walk exact integers; one sort window + one consecutive-pair
    join."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "x"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    wx = Window.orderBy("x", "user_id")
    wy = Window.orderBy("y", "user_id")
    ranked = per_user.select(
        F.row_number().over(wx).alias("xi"),
        F.rank().over(wy).alias("ry"),
    )
    ranked = op_cache.track(ranked.cache())
    a = ranked.select(F.col("xi").alias("ia"), F.col("ry").alias("ra"))
    b = ranked.select(F.col("xi").alias("ib"), F.col("ry").alias("rb"))
    diffs = a.join(b, F.col("ib") == F.col("ia") + 1).select(
        F.abs(F.col("rb").cast("bigint") - F.col("ra").cast("bigint")).alias(
            "dr"
        )
    )
    n = ranked.count()
    s = diffs.agg(F.sum("dr").alias("sd"))
    return s.select(
        F.lit(n).cast("bigint").alias("n_users"),
        F.col("sd").cast("bigint").alias("sum_rank_jumps"),
        F.round(
            1
            - (3 * F.col("sd")).cast("double")
            / F.lit(n * n - 1).cast("double"),
            6,
        ).alias("chatterjee_xi"),
    )


@register(
    "structural_break_chow",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY m) AS i,
             COUNT(*) OVER () AS n
      FROM monthly),
    tot AS (
      -- decimal sums are exact and associative: no fold-order pinning
      SELECT MAX(n) AS n, SUM(y) AS sy, SUM(y * y) AS syy FROM idx),
    cum AS (
      SELECT i, n,
             SUM(y) OVER (ORDER BY i) AS cy,
             SUM(y * y) OVER (ORDER BY i) AS cyy
      FROM idx),
    splits AS (
      SELECT c.i AS k, c.n,
             (CAST(t.syy AS DOUBLE)
              - CAST(t.sy AS DOUBLE) * CAST(t.sy AS DOUBLE)
                / CAST(t.n AS DOUBLE)) AS sst,
             (CAST(c.cyy AS DOUBLE)
              - CAST(c.cy AS DOUBLE) * CAST(c.cy AS DOUBLE)
                / CAST(c.i AS DOUBLE))
             + (CAST(t.syy - c.cyy AS DOUBLE)
                - CAST(t.sy - c.cy AS DOUBLE) * CAST(t.sy - c.cy AS DOUBLE)
                  / CAST(t.n - c.i AS DOUBLE)) AS ssw
      FROM cum c, tot t
      WHERE c.i >= 5 AND c.i <= c.n - 5),
    scored AS (
      SELECT k, n, sst, ssw,
             (sst - ssw) / (ssw / CAST(n - 2 AS DOUBLE)) AS f
      FROM splits)
    SELECT CAST(k AS INT) AS break_after_month,
           CAST(n AS BIGINT) AS n_months,
           ROUND(f, 6) AS chow_f,
           ROUND((sst - ssw) / CAST(1000000 AS DOUBLE), 4)
             AS ss_explained_m
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY f DESC, k) AS rk
          FROM scored)
    WHERE rk = 1
    """,
)
def structural_break_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-break scan (Chow-style, mean-shift form): for every
    candidate split of the monthly revenue series (≥5 months per side),
    the F-statistic of two-segment means against one global mean —
    the argmax locates the most likely regime change, the first
    question when a metric "looks different lately". Prefix sums make
    every candidate split O(1); double window sums run in pinned
    order over the 80-row series."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
    )
    wm = Window.orderBy("m")
    wc = Window.partitionBy()
    idx = monthly.select(
        "y",
        F.row_number().over(wm).alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    idx = op_cache.track(idx.cache())
    # decimal sums are exact and associative — no fold-order pinning needed
    tot = idx.agg(
        F.max("n").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    wcum = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = idx.select(
        "i",
        "n",
        F.sum("y").over(wcum).alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(wcum).alias("cyy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    splits = (
        cum.crossJoin(
            F.broadcast(
                tot.select(
                    F.col("sy").alias("tsy"), F.col("syy").alias("tsyy")
                )
            )
        )
        .filter((F.col("i") >= 5) & (F.col("i") <= F.col("n") - 5))
        .select(
            F.col("i").alias("k"),
            "n",
            (
                d("tsyy") - d("tsy") * d("tsy") / d("n")
            ).alias("sst"),
            (
                (d("cyy") - d("cy") * d("cy") / F.col("i").cast("double"))
                + (
                    (F.col("tsyy") - F.col("cyy")).cast("double")
                    - (F.col("tsy") - F.col("cy")).cast("double")
                    * (F.col("tsy") - F.col("cy")).cast("double")
                    / (F.col("n") - F.col("i")).cast("double")
                )
            ).alias("ssw"),
        )
    )
    scored = splits.select(
        "k",
        "n",
        "sst",
        "ssw",
        (
            (F.col("sst") - F.col("ssw"))
            / (F.col("ssw") / (F.col("n") - 2).cast("double"))
        ).alias("f"),
    )
    wrk = Window.orderBy(F.desc("f"), "k")
    return (
        scored.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("k").cast("int").alias("break_after_month"),
            F.col("n").cast("bigint").alias("n_months"),
            F.round("f", 6).alias("chow_f"),
            F.round(
                (F.col("sst") - F.col("ssw")) / F.lit(1000000).cast("double"),
                4,
            ).alias("ss_explained_m"),
        )
    )


@register(
    "myerson_reserve_price",
    oracle="""
    WITH vals AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, o_orderkey
      FROM orders),
    ranked AS (
      SELECT v,
             ROW_NUMBER() OVER (ORDER BY v DESC, o_orderkey) AS ge_rank
      FROM vals),
    cand AS (
      SELECT v, MAX(ge_rank) AS n_ge
      FROM ranked GROUP BY v),
    scored AS (
      SELECT v, n_ge,
             CAST(v * n_ge AS DECIMAL(38,2)) AS revenue
      FROM cand)
    SELECT CAST(ROUND(s.v, 2) AS DOUBLE) AS reserve_price,
           CAST(s.n_ge AS BIGINT) AS buyers_at_or_above,
           CAST(ROUND(s.revenue, 2) AS DOUBLE) AS posted_price_revenue,
           CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY revenue DESC, v) AS rk FROM scored) s
    WHERE rk <= 5
    ORDER BY rank
    """,
)
def myerson_reserve_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical optimal posted price: treating order totals as buyer
    valuations, each candidate price r earns r × #{buyers with value ≥
    r}, and the argmax is the revenue-optimal take-it-or-leave-it price
    (the empirical form of Myerson's reserve). Top-5 candidates. The
    suffix count comes from one descending rank window; revenue stays
    DECIMAL so the argmax ordering is exact — no float ever ranks the
    candidates."""
    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"), "o_orderkey"
    )
    wr = Window.orderBy(F.desc("v"), "o_orderkey")
    ranked = vals.select("v", F.row_number().over(wr).alias("ge_rank"))
    cand = ranked.groupBy("v").agg(F.max("ge_rank").alias("n_ge"))
    scored = cand.select(
        "v",
        "n_ge",
        (F.col("v") * F.col("n_ge")).cast("decimal(38,2)").alias("revenue"),
    )
    wrk = Window.orderBy(F.desc("revenue"), "v")
    return (
        scored.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 5)
        .select(
            F.round("v", 2).cast("double").alias("reserve_price"),
            F.col("n_ge").cast("bigint").alias("buyers_at_or_above"),
            F.round("revenue", 2).cast("double").alias("posted_price_revenue"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "newsvendor_quantile_cost",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS demand
      FROM orders GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM daily),
    -- critical fractile for underage 5, overage 1: q* = 5/6
    pick AS (
      SELECT demand AS q FROM (
        SELECT demand, ROW_NUMBER() OVER (ORDER BY demand, d) AS rn
        FROM daily), n
      WHERE rn = (SELECT (n.n * 5 + 5) // 6 FROM n)),
    cost AS (
      SELECT
        SUM(CASE WHEN da.demand > p.q
                 THEN 5 * (da.demand - p.q) ELSE 0 END) AS under_cost,
        SUM(CASE WHEN da.demand < p.q
                 THEN 1 * (p.q - da.demand) ELSE 0 END) AS over_cost,
        COUNT(*) AS days
      FROM daily da, pick p)
    SELECT (SELECT CAST(q AS BIGINT) FROM pick) AS stock_level,
           CAST(days AS BIGINT) AS n_days,
           CAST(under_cost AS BIGINT) AS underage_cost,
           CAST(over_cost AS BIGINT) AS overage_cost,
           ROUND(CAST(under_cost + over_cost AS DOUBLE)
                 / CAST(days AS DOUBLE), 6) AS mean_daily_cost
    FROM cost
    """,
)
def newsvendor_quantile_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking decision on daily order demand: with underage
    cost 5 and overage cost 1 the optimal stock is the 5/6 critical
    fractile of the empirical demand distribution (exact nearest-rank),
    and the realized under/over costs at that level are reported — the
    canonical quantile-decision problem (same math prices SLO
    capacity). One rank window + one cost scan, all integers."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("demand")
    )
    daily = op_cache.track(daily.cache())
    wr = Window.orderBy("demand", "d")
    wc = Window.partitionBy()
    pick = (
        daily.select(
            "demand",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n * 5 + 5) DIV 6"))
        .select(F.col("demand").alias("q"))
    )
    cost = daily.crossJoin(F.broadcast(pick)).agg(
        F.sum(
            F.when(
                F.col("demand") > F.col("q"), 5 * (F.col("demand") - F.col("q"))
            ).otherwise(0)
        ).alias("under_cost"),
        F.sum(
            F.when(
                F.col("demand") < F.col("q"), F.col("q") - F.col("demand")
            ).otherwise(0)
        ).alias("over_cost"),
        F.count(F.lit(1)).alias("days"),
        F.max("q").alias("q"),
    )
    return cost.select(
        F.col("q").cast("bigint").alias("stock_level"),
        F.col("days").cast("bigint").alias("n_days"),
        F.col("under_cost").cast("bigint").alias("underage_cost"),
        F.col("over_cost").cast("bigint").alias("overage_cost"),
        F.round(
            (F.col("under_cost") + F.col("over_cost")).cast("double")
            / F.col("days").cast("double"),
            6,
        ).alias("mean_daily_cost"),
    )


@register(
    "secretary_stopping_replay",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS i,
             COUNT(*) OVER () AS n
      FROM orders),
    cutoff AS (
      SELECT CAST(MAX(n) * 37 AS BIGINT) // 100 AS k, MAX(n) AS n
      FROM seq),
    benchmark AS (
      SELECT MAX(s.v) AS obs_max
      FROM seq s, cutoff c WHERE s.i <= c.k),
    accepted AS (
      SELECT s.i, s.v, s.o_orderkey,
             ROW_NUMBER() OVER (ORDER BY s.i) AS acc_rank
      FROM seq s, cutoff c, benchmark b
      WHERE s.i > c.k AND s.v > b.obs_max),
    best AS (
      SELECT MAX(v) AS true_best FROM seq),
    fallback AS (
      SELECT s.i, s.v, s.o_orderkey
      FROM seq s, cutoff c WHERE s.i = c.n),
    pick AS (
      -- classic rule: accept the first record-beater, else the last one
      SELECT i, v, o_orderkey FROM (
        SELECT i, v, o_orderkey, 1 AS pref FROM accepted WHERE acc_rank = 1
        UNION ALL
        SELECT i, v, o_orderkey, 2 AS pref FROM fallback)
      ORDER BY pref LIMIT 1)
    SELECT (SELECT CAST(k AS BIGINT) FROM cutoff) AS observe_phase,
           (SELECT CAST(n AS BIGINT) FROM cutoff) AS n_candidates,
           CAST(p.o_orderkey AS BIGINT) AS picked_order,
           CAST(ROUND(p.v, 2) AS DOUBLE) AS picked_value,
           CAST(ROUND(b.true_best, 2) AS DOUBLE) AS true_best,
           CASE WHEN p.v = b.true_best THEN 1 ELSE 0 END AS picked_best,
           ROUND(CAST(p.v AS DOUBLE) / CAST(b.true_best AS DOUBLE), 6)
             AS capture_ratio
    FROM pick p, best b
    """,
)
def secretary_stopping_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secretary-problem (37% rule) replay on the order stream: observe
    the first 37% of orders in date sequence without committing, then
    accept the FIRST later order beating everything observed — the
    optimal-stopping policy, evaluated against the true maximum (did
    the rule capture the best candidate, and what fraction of the best
    value did it get). Values stay DECIMAL for exact comparisons; one
    global sequence window + two scalar subqueries."""
    orders = _t(spark, sf_dir, "orders")
    wi = Window.orderBy("o_orderdate", "o_orderkey")
    wc = Window.partitionBy()
    seq = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    seq = op_cache.track(seq.cache())
    cutoff = seq.agg(
        F.expr("CAST(MAX(n) * 37 AS BIGINT) DIV 100").alias("k"),
        F.max("n").alias("n"),
    )
    benchmark = (
        seq.crossJoin(F.broadcast(cutoff))
        .filter(F.col("i") <= F.col("k"))
        .agg(F.max("v").alias("obs_max"))
    )
    wacc = Window.orderBy("i")
    accepted = (
        seq.crossJoin(F.broadcast(cutoff))
        .crossJoin(F.broadcast(benchmark))
        .filter((F.col("i") > F.col("k")) & (F.col("v") > F.col("obs_max")))
        .select(
            "i", "v", "o_orderkey", F.row_number().over(wacc).alias("acc_rank")
        )
        .filter(F.col("acc_rank") == 1)
    )
    best = seq.agg(F.max("v").alias("true_best"))
    fallback = (
        seq.crossJoin(F.broadcast(cutoff.select(F.col("n").alias("nn"))))
        .filter(F.col("i") == F.col("nn"))
        .select("i", "v", "o_orderkey")
    )
    pick = (
        accepted.select("i", "v", "o_orderkey", F.lit(1).alias("pref"))
        .unionAll(
            fallback.select("i", "v", "o_orderkey", F.lit(2).alias("pref"))
        )
        .orderBy("pref")
        .limit(1)
    )
    return (
        pick.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(cutoff))
        .select(
            F.col("k").cast("bigint").alias("observe_phase"),
            F.col("n").cast("bigint").alias("n_candidates"),
            F.col("o_orderkey").cast("bigint").alias("picked_order"),
            F.round("v", 2).cast("double").alias("picked_value"),
            F.round("true_best", 2).cast("double").alias("true_best"),
            F.when(F.col("v") == F.col("true_best"), 1)
            .otherwise(0)
            .alias("picked_best"),
            F.round(
                F.col("v").cast("double") / F.col("true_best").cast("double"),
                6,
            ).alias("capture_ratio"),
        )
    )


@register(
    "exact_permutation_test",
    oracle="""
    WITH last12 AS (
      SELECT y, i FROM (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS y,
               ROW_NUMBER() OVER (
                 ORDER BY date_trunc('month', CAST(o_orderdate AS DATE)) DESC)
                 AS i
        FROM orders
        GROUP BY date_trunc('month', CAST(o_orderdate AS DATE)))
      WHERE i <= 12),
    obs AS (
      SELECT SUM(CASE WHEN i <= 6 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END)
               AS recent,
             SUM(CASE WHEN i > 6 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END)
               AS prior
      FROM last12),
    masks AS (
      SELECT m FROM (SELECT unnest(range(0, 4096)) AS m)
      WHERE bit_count(CAST(m AS BIGINT)) = 6),
    perm AS (
      SELECT ms.m,
             SUM(CASE WHEN (ms.m & (1 << CAST(l.i - 1 AS INT))) <> 0
                      THEN l.y ELSE CAST(0 AS DECIMAL(18,2)) END) AS grp_sum
      FROM masks ms CROSS JOIN last12 l
      GROUP BY ms.m),
    pv AS (
      SELECT COUNT(*) AS n_perms,
             SUM(CASE WHEN p.grp_sum >= o.recent THEN 1 ELSE 0 END)
               AS n_extreme
      FROM perm p, obs o)
    SELECT CAST(n_perms AS BIGINT) AS n_permutations,
           CAST(n_extreme AS BIGINT) AS n_as_extreme,
           (SELECT CAST(ROUND(recent - prior, 2) AS DOUBLE) FROM obs)
             AS observed_diff,
           ROUND(CAST(n_extreme AS DOUBLE) / CAST(n_perms AS DOUBLE), 6)
             AS exact_p_one_sided
    FROM pv
    """,
)
def exact_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT permutation test — no asymptotics, no randomness: is the
    most recent 6 months' revenue high versus the prior 6? All C(12,6)
    = 924 relabelings enumerate as 12-bit masks (bit_count = 6), each
    mask's group sum is DECIMAL-exact, and the p-value is the exact
    fraction of relabelings at least as extreme as observed. The
    fan-out is masks × 12 rows — enumerate-then-aggregate, the same
    pattern as the Shapley subset enumeration."""
    orders = _t(spark, sf_dir, "orders")
    wm = Window.orderBy(
        F.desc(F.date_trunc("month", F.to_date("o_orderdate")))
    )
    last12 = (
        orders.groupBy(
            F.date_trunc("month", F.to_date("o_orderdate")).alias("mon")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("y")
        )
        .select("y", F.row_number().over(Window.orderBy(F.desc("mon"))).alias("i"))
        .filter(F.col("i") <= 12)
    )
    last12 = op_cache.track(last12.cache())
    obs = last12.agg(
        F.sum(
            F.when(F.col("i") <= 6, F.col("y")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("recent"),
        F.sum(
            F.when(F.col("i") > 6, F.col("y")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("prior"),
    )
    masks = (
        spark.range(0, 4096)
        .select(F.col("id").cast("bigint").alias("m"))
        .filter(F.bit_count(F.col("m")) == 6)
    )
    perm = (
        masks.crossJoin(last12)
        .groupBy("m")
        .agg(
            F.sum(
                F.when(
                    F.expr("(m & shiftleft(CAST(1 AS BIGINT), "
                           "CAST(i - 1 AS INT))) <> 0"),
                    F.col("y"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("grp_sum")
        )
    )
    pv = perm.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).alias("n_perms"),
        F.sum(
            F.when(F.col("grp_sum") >= F.col("recent"), 1).otherwise(0)
        ).alias("n_extreme"),
    )
    return pv.crossJoin(F.broadcast(obs)).select(
        F.col("n_perms").cast("bigint").alias("n_permutations"),
        F.col("n_extreme").cast("bigint").alias("n_as_extreme"),
        F.round(F.col("recent") - F.col("prior"), 2)
        .cast("double")
        .alias("observed_diff"),
        F.round(
            F.col("n_extreme").cast("double") / F.col("n_perms").cast("double"),
            6,
        ).alias("exact_p_one_sided"),
    )


@register(
    "brier_decomposition",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, y,
             CAST(c AS DOUBLE) / CAST(c + 3 AS DOUBLE) AS p,
             CAST((10 * c) // (c + 3) AS INT) AS bin
      FROM per_user),
    bins AS (
      SELECT bin, COUNT(*) AS nk, SUM(y) AS pk,
             list_reduce(list(p ORDER BY user_id), (a, b) -> a + b) AS sp
      FROM scored GROUP BY bin),
    base AS (
      SELECT SUM(nk) AS n, SUM(pk) AS pos FROM bins),
    terms AS (
      SELECT b.bin,
             CAST(b.nk AS DOUBLE)
               * (b.sp / CAST(b.nk AS DOUBLE)
                  - CAST(b.pk AS DOUBLE) / CAST(b.nk AS DOUBLE))
               * (b.sp / CAST(b.nk AS DOUBLE)
                  - CAST(b.pk AS DOUBLE) / CAST(b.nk AS DOUBLE)) AS rel,
             CAST(b.nk AS DOUBLE)
               * (CAST(b.pk AS DOUBLE) / CAST(b.nk AS DOUBLE)
                  - CAST(bs.pos AS DOUBLE) / CAST(bs.n AS DOUBLE))
               * (CAST(b.pk AS DOUBLE) / CAST(b.nk AS DOUBLE)
                  - CAST(bs.pos AS DOUBLE) / CAST(bs.n AS DOUBLE)) AS res,
             CAST(b.nk AS DOUBLE)
               * ABS(b.sp / CAST(b.nk AS DOUBLE)
                     - CAST(b.pk AS DOUBLE) / CAST(b.nk AS DOUBLE)) AS ece
      FROM bins b, base bs),
    folded AS (
      SELECT
        list_reduce(list(rel ORDER BY bin), (a, b) -> a + b) AS rel,
        list_reduce(list(res ORDER BY bin), (a, b) -> a + b) AS res,
        list_reduce(list(ece ORDER BY bin), (a, b) -> a + b) AS ece
      FROM terms)
    SELECT ROUND(f.rel / CAST(bs.n AS DOUBLE), 6) AS reliability,
           ROUND(f.res / CAST(bs.n AS DOUBLE), 6) AS resolution,
           ROUND((CAST(bs.pos AS DOUBLE) / CAST(bs.n AS DOUBLE))
                 * (1 - CAST(bs.pos AS DOUBLE) / CAST(bs.n AS DOUBLE)), 6)
             AS uncertainty,
           ROUND(f.ece / CAST(bs.n AS DOUBLE), 6)
             AS expected_calibration_error
    FROM folded f, base bs
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score + expected calibration
    error for the rational conversion scorer: RELIABILITY (how far bin
    forecasts sit from bin outcomes — lower better), RESOLUTION (how
    much bins separate from the base rate — higher better),
    UNCERTAINTY (base-rate variance, the irreducible floor), and ECE —
    the forecast-quality report card that one Brier number hides. Bin
    stats reuse the calibration-bin machinery; folds are bin-ordered."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    scored = per_user.select(
        "user_id",
        "y",
        (F.col("c").cast("double") / (F.col("c") + 3).cast("double")).alias(
            "p"
        ),
        F.expr("CAST((10 * c) DIV (c + 3) AS INT)").alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("y").alias("pk"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(user_id, p))), "
            "cast(0 as double), (acc, e) -> acc + e.p)"
        ).alias("sp"),
    )
    bins = op_cache.track(bins.cache())
    base = bins.agg(F.sum("nk").alias("n"), F.sum("pk").alias("pos"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean_p = F.col("sp") / d("nk")
    rate = d("pk") / d("nk")
    base_rate = d("pos") / d("n")
    terms = bins.crossJoin(F.broadcast(base)).select(
        "bin",
        (d("nk") * (mean_p - rate) * (mean_p - rate)).alias("rel"),
        (d("nk") * (rate - base_rate) * (rate - base_rate)).alias("res"),
        (d("nk") * F.abs(mean_p - rate)).alias("ece"),
    )
    folded = terms.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(bin, rel))), "
            "cast(0 as double), (acc, e) -> acc + e.rel)"
        ).alias("rel"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(bin, res))), "
            "cast(0 as double), (acc, e) -> acc + e.res)"
        ).alias("res"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(bin, ece))), "
            "cast(0 as double), (acc, e) -> acc + e.ece)"
        ).alias("ece"),
    )
    return folded.crossJoin(F.broadcast(base)).select(
        F.round(F.col("rel") / d("n"), 6).alias("reliability"),
        F.round(F.col("res") / d("n"), 6).alias("resolution"),
        F.round(base_rate * (1 - base_rate), 6).alias("uncertainty"),
        F.round(F.col("ece") / d("n"), 6).alias("expected_calibration_error"),
    )


@register("ridge_regression_2feature", oracle=_ridge_oracle())
def ridge_regression_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (λ=10, all coefficients penalized) of purchase
    count on clicks and views via the closed-form normal equations
    (XᵀX + λI)β = Xᵀy, solved with the same shared-SQL 3×3 adjugate as
    the GLM family — the regularized sibling of the OLS fit that stays
    stable when features correlate. One pass for the moments, 9
    numbers to the solve."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x2"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    fold = lambda expr, name: F.expr(  # noqa: E731
        f"aggregate(array_sort(collect_list(struct(user_id, {expr} AS t))), "
        f"cast(0 as double), (acc, e) -> acc + e.t)"
    ).alias(name)
    mom = per_user.agg(
        fold("CAST(1 AS DOUBLE)", "f11"),
        fold("x1", "m12"),
        fold("x2", "m13"),
        fold("x1 * x1", "f22"),
        fold("x1 * x2", "m23"),
        fold("x2 * x2", "f33"),
        fold("y", "g1"),
        fold("x1 * y", "g2"),
        fold("x2 * y", "g3"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        (F.col("f11") + F.lit(10).cast("double")).alias("m11"),
        "m12",
        "m13",
        (F.col("f22") + F.lit(10).cast("double")).alias("m22"),
        "m23",
        (F.col("f33") + F.lit(10).cast("double")).alias("m33"),
        "g1",
        "g2",
        "g3",
        "n",
    )
    s = _solve3("m", "g")
    return mom.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.expr(s["d1"]), 6).alias("intercept"),
        F.round(F.expr(s["d2"]), 6).alias("coef_clicks"),
        F.round(F.expr(s["d3"]), 6).alias("coef_views"),
    )


@register(
    "itemitem_cosine_cf",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_orderkey AS basket, p.p_brand AS item
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey),
    item_n AS (
      SELECT item, COUNT(*) AS n FROM baskets GROUP BY item),
    co AS (
      SELECT a.item AS ia, b.item AS ib, COUNT(*) AS nij
      FROM baskets a JOIN baskets b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY a.item, b.item),
    scored AS (
      SELECT co.ia, co.ib, co.nij, na.n AS na, nb.n AS nb,
             CAST(co.nij AS DOUBLE)
             / SQRT(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cos
      FROM co
      JOIN item_n na ON na.item = co.ia
      JOIN item_n nb ON nb.item = co.ib)
    SELECT ia AS item_a, ib AS item_b, CAST(nij AS BIGINT) AS co_baskets,
           ROUND(cos, 6) AS cosine, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos DESC, ia, ib) AS rk
          FROM scored)
    WHERE rk <= 15
    ORDER BY rank
    """,
)
def itemitem_cosine_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine collaborative filtering over brand co-purchase
    baskets: sim(i,j) = n_ij/√(n_i·n_j) on binary basket vectors — the
    normalization that separates "popular with everything" from
    genuinely associated pairs (the CF sibling of market-basket lift).
    Top-15 most-similar brand pairs. The self-join runs per basket
    (cost ∝ Σ basket-size², never items²·baskets); item counts
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    baskets = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .select(F.col("o_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    baskets = op_cache.track(baskets.cache())
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select(F.col("basket").alias("ba"), F.col("item").alias("ia"))
    b = baskets.select(F.col("basket").alias("bb"), F.col("item").alias("ib"))
    co = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    na = item_n.select(F.col("item").alias("ia"), F.col("n").alias("na"))
    nb = item_n.select(F.col("item").alias("ib"), F.col("n").alias("nb"))
    scored = (
        co.join(F.broadcast(na), "ia")
        .join(F.broadcast(nb), "ib")
        .select(
            "ia",
            "ib",
            "nij",
            (
                F.col("nij").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos"),
        )
    )
    wrk = Window.orderBy(F.desc("cos"), "ia", "ib")
    return (
        scored.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 15)
        .select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("nij").cast("bigint").alias("co_baskets"),
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register("expectile_asymmetric_mean", oracle=_expectile_oracle())
def expectile_asymmetric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% expectile of daily revenue by three asymmetric-least-squares
    iterations: overweight (0.9) days above the current estimate,
    underweight (0.1) those below, and re-take the weighted mean — the
    coherent, moment-based alternative to the 90th quantile used in
    modern risk backtesting (expectiles are the only elicitable
    coherent risk measure). Each iteration is one fold pair over the
    daily series in pinned order; iterates are broadcast scalars."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    daily = op_cache.track(daily.cache())
    mu = daily.agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(d, y))), "
                "cast(0 as double), (acc, e) -> acc + e.y)"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("mu")
    )
    mean0 = mu
    for _ in range(3):
        w = (
            daily.crossJoin(F.broadcast(mu))
            .select(
                "d",
                "y",
                F.when(
                    F.col("y") > F.col("mu"), F.lit(0.9).cast("double")
                )
                .otherwise(F.lit(0.1).cast("double"))
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
        n.crossJoin(F.broadcast(mean0.select(F.col("mu").alias("mean0"))))
        .crossJoin(F.broadcast(mu))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.round("mean0", 6).alias("mean_revenue"),
            F.round("mu", 6).alias("expectile_90"),
        )
    )


@register(
    "markowitz_two_asset",
    oracle="""
    WITH top2 AS (
      SELECT p.p_brand AS brand,
             ROW_NUMBER() OVER (ORDER BY SUM(CAST(l.l_extendedprice
               AS DECIMAL(18,2))) DESC, p.p_brand) AS rk
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand),
    series AS (
      SELECT CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS m,
             SUM(CASE WHEN t.rk = 1
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS r1,
             SUM(CASE WHEN t.rk = 2
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS r2
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN top2 t ON t.brand = p.p_brand AND t.rk <= 2
      GROUP BY 1),
    mom AS (
      SELECT COUNT(*) AS n, SUM(r1) AS s1, SUM(r2) AS s2,
             SUM(r1*r1) AS s11, SUM(r2*r2) AS s22, SUM(r1*r2) AS s12
      FROM series),
    cov AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS v1,
             (CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS v2,
             (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS c12
      FROM mom)
    SELECT CAST(n AS BIGINT) AS n_months,
           ROUND((v2 - c12) / (v1 + v2 - 2 * c12), 6) AS min_var_weight_1,
           ROUND(1 - (v2 - c12) / (v1 + v2 - 2 * c12), 6)
             AS min_var_weight_2,
           ROUND(c12 / SQRT(v1 * v2), 6) AS correlation,
           ROUND((v1 * v2 - c12 * c12) / (v1 + v2 - 2 * c12)
                 / CAST(1000000 AS DOUBLE), 6) AS min_portfolio_var_m
    FROM cov
    """,
)
def markowitz_two_asset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markowitz minimum-variance allocation between the two largest
    brands' monthly revenue streams: w₁ = (σ₂²−σ₁₂)/(σ₁²+σ₂²−2σ₁₂)
    in closed form from DECIMAL-exact moment sums, plus the stream
    correlation and the achieved portfolio variance — diversification
    quantified (the same algebra allocates budget across volatile
    revenue lines or traffic sources). One fact aggregate to the
    monthly 2-series, one 1-row fold."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    joined = li.join(orders, orders.o_orderkey == li.l_orderkey).join(
        F.broadcast(part), part.p_partkey == li.l_partkey
    )
    top2 = (
        joined.groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "tot"
            )
        )
        .select(
            "p_brand",
            F.row_number()
            .over(Window.orderBy(F.desc("tot"), "p_brand"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 2)
    )
    series = (
        joined.join(F.broadcast(top2), "p_brand")
        .groupBy(
            F.date_trunc("month", F.to_date("o_orderdate"))
            .cast("date")
            .alias("m")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("rk") == 1,
                    F.col("l_extendedprice").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("r1"),
            F.sum(
                F.when(
                    F.col("rk") == 2,
                    F.col("l_extendedprice").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).alias("r2"),
        )
    )
    mom = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r1").alias("s1"),
        F.sum("r2").alias("s2"),
        F.sum(F.col("r1") * F.col("r1")).alias("s11"),
        F.sum(F.col("r2") * F.col("r2")).alias("s22"),
        F.sum(F.col("r1") * F.col("r2")).alias("s12"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nm1 = d("n") * (F.col("n") - 1).cast("double")
    cov = mom.select(
        "n",
        ((d("n") * d("s11") - d("s1") * d("s1")) / nm1).alias("v1"),
        ((d("n") * d("s22") - d("s2") * d("s2")) / nm1).alias("v2"),
        ((d("n") * d("s12") - d("s1") * d("s2")) / nm1).alias("c12"),
    )
    w1 = (F.col("v2") - F.col("c12")) / (
        F.col("v1") + F.col("v2") - 2 * F.col("c12")
    )
    return cov.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.round(w1, 6).alias("min_var_weight_1"),
        F.round(1 - w1, 6).alias("min_var_weight_2"),
        F.round(F.col("c12") / F.sqrt(F.col("v1") * F.col("v2")), 6).alias(
            "correlation"
        ),
        F.round(
            (F.col("v1") * F.col("v2") - F.col("c12") * F.col("c12"))
            / (F.col("v1") + F.col("v2") - 2 * F.col("c12"))
            / F.lit(1000000).cast("double"),
            6,
        ).alias("min_portfolio_var_m"),
    )


@register(
    "g2_keyness_terms",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS tgt,
             unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT tgt, w FROM toks WHERE w <> ''),
    counts AS (
      SELECT w,
             SUM(CASE WHEN tgt = 1 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN tgt = 0 THEN 1 ELSE 0 END) AS b
      FROM t2 GROUP BY w),
    totals AS (
      SELECT SUM(a) AS ta, SUM(b) AS tb FROM counts),
    g2 AS (
      SELECT c.w, c.a, c.b,
             2 * ((CASE WHEN c.a = 0 THEN CAST(0 AS DOUBLE)
                   ELSE CAST(c.a AS DOUBLE)
                        * LN(CAST(c.a AS DOUBLE)
                             / (CAST(c.a + c.b AS DOUBLE)
                                * CAST(t.ta AS DOUBLE)
                                / CAST(t.ta + t.tb AS DOUBLE))) END)
                  + (CASE WHEN c.b = 0 THEN CAST(0 AS DOUBLE)
                     ELSE CAST(c.b AS DOUBLE)
                          * LN(CAST(c.b AS DOUBLE)
                               / (CAST(c.a + c.b AS DOUBLE)
                                  * CAST(t.tb AS DOUBLE)
                                  / CAST(t.ta + t.tb AS DOUBLE))) END))
               AS g2
      FROM counts c, totals t
      WHERE c.a * t.tb > c.b * t.ta)
    SELECT w AS term, CAST(a AS BIGINT) AS count_target,
           CAST(b AS BIGINT) AS count_rest,
           ROUND(g2, 6) AS g2_keyness, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY g2 DESC, w) AS rk
          FROM g2)
    WHERE rk <= 20
    ORDER BY rank
    """,
)
def g2_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning's log-likelihood (G²) keyness: which terms are
    significantly OVER-represented in source src0 versus the rest of
    the corpus — the corpus-linguistics statistic that, unlike raw
    frequency ratios, doesn't blow up on rare words (G² = 2ΣO·ln(O/E)
    over the 2-cell term split, restricted to positively-key terms by
    the exact integer cross-ratio a·tb > b·ta). Top-20 keywords. One
    token aggregate; the totals row broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    t2 = docs.select(
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("tgt"),
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    counts = t2.groupBy("w").agg(
        F.sum(F.when(F.col("tgt") == 1, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("tgt") == 0, 1).otherwise(0)).alias("b"),
    )
    counts = op_cache.track(counts.cache())
    totals = counts.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ea = (F.col("a") + F.col("b")).cast("double") * d("ta") / (
        F.col("ta") + F.col("tb")
    ).cast("double")
    eb = (F.col("a") + F.col("b")).cast("double") * d("tb") / (
        F.col("ta") + F.col("tb")
    ).cast("double")
    g2 = 2 * (
        F.when(F.col("a") == 0, F.lit(0.0)).otherwise(
            d("a") * F.log(d("a") / ea)
        )
        + F.when(F.col("b") == 0, F.lit(0.0)).otherwise(
            d("b") * F.log(d("b") / eb)
        )
    )
    scored = (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("a") * F.col("tb") > F.col("b") * F.col("ta"))
        .select("w", "a", "b", g2.alias("g2"))
    )
    wrk = Window.orderBy(F.desc("g2"), "w")
    return (
        scored.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("w").alias("term"),
            F.col("a").cast("bigint").alias("count_target"),
            F.col("b").cast("bigint").alias("count_rest"),
            F.round("g2", 6).alias("g2_keyness"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "recsys_coverage_novelty",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_orderkey AS basket, p.p_brand AS item
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey),
    item_n AS (
      SELECT item, COUNT(*) AS n FROM baskets GROUP BY item),
    pop_rank AS (
      SELECT item, ROW_NUMBER() OVER (ORDER BY n DESC, item) AS prank
      FROM item_n),
    co AS (
      SELECT a.item AS ia, b.item AS ib, COUNT(*) AS nij
      FROM baskets a JOIN baskets b
        ON a.basket = b.basket AND a.item <> b.item
      GROUP BY a.item, b.item),
    scored AS (
      SELECT co.ia, co.ib,
             CAST(co.nij AS DOUBLE)
             / SQRT(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cos
      FROM co
      JOIN item_n na ON na.item = co.ia
      JOIN item_n nb ON nb.item = co.ib),
    recs AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               ROW_NUMBER() OVER (PARTITION BY ia
                                  ORDER BY cos DESC, ib) AS rn
        FROM scored) WHERE rn <= 3),
    cat AS (SELECT COUNT(*) AS n_items FROM item_n),
    cov AS (
      SELECT COUNT(DISTINCT ib) AS n_recommended, COUNT(*) AS n_slots
      FROM recs),
    nov AS (
      SELECT list_reduce(list(
               LN(CAST(pr.prank AS DOUBLE)) ORDER BY r.ia, r.ib),
               (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS mean_log_poprank
      FROM recs r JOIN pop_rank pr ON pr.item = r.ib)
    SELECT CAST(cat.n_items AS BIGINT) AS catalog_size,
           CAST(cov.n_recommended AS BIGINT) AS items_recommended,
           CAST(cov.n_slots AS BIGINT) AS rec_slots,
           ROUND(CAST(cov.n_recommended AS DOUBLE)
                 / CAST(cat.n_items AS DOUBLE), 6) AS catalog_coverage,
           ROUND(nov.mean_log_poprank, 6) AS mean_log_pop_rank
    FROM cat, cov, nov
    """,
)
def recsys_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender-health audit of the item-item CF top-3 lists:
    catalog coverage (what fraction of items EVER get recommended —
    low coverage means popularity bias starves the tail) and novelty
    as the mean log popularity-rank of recommended items (higher =
    deeper into the tail). The two numbers that accuracy metrics hide;
    same basket self-join shape as the CF scorer, one rank window per
    item."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    baskets = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .select(
            F.col("o_orderkey").alias("basket"), F.col("p_brand").alias("item")
        )
        .distinct()
    )
    baskets = op_cache.track(baskets.cache())
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    item_n = op_cache.track(item_n.cache())
    pop_rank = item_n.select(
        "item",
        F.row_number().over(Window.orderBy(F.desc("n"), "item")).alias("prank"),
    )
    a = baskets.select(F.col("basket").alias("ba"), F.col("item").alias("ia"))
    b = baskets.select(F.col("basket").alias("bb"), F.col("item").alias("ib"))
    co = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("ia") != F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    na = item_n.select(F.col("item").alias("ia"), F.col("n").alias("na"))
    nb = item_n.select(F.col("item").alias("ib"), F.col("n").alias("nb"))
    scored = (
        co.join(F.broadcast(na), "ia")
        .join(F.broadcast(nb), "ib")
        .select(
            "ia",
            "ib",
            (
                F.col("nij").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos"),
        )
    )
    wr = Window.partitionBy("ia").orderBy(F.desc("cos"), "ib")
    recs = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 3)
        .select("ia", "ib")
    )
    recs = op_cache.track(recs.cache())
    cat = item_n.agg(F.count(F.lit(1)).alias("n_items"))
    cov = recs.agg(
        F.countDistinct("ib").alias("n_recommended"),
        F.count(F.lit(1)).alias("n_slots"),
    )
    nov = (
        recs.join(
            F.broadcast(pop_rank.select(F.col("item").alias("ib"), "prank")),
            "ib",
        )
        .agg(
            (
                F.expr(
                    "aggregate(array_sort(collect_list(struct(ia, ib, "
                    "LN(CAST(prank AS DOUBLE)) AS lp))), "
                    "cast(0 as double), (acc, e) -> acc + e.lp)"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_log_poprank")
        )
    )
    return (
        cat.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(nov))
        .select(
            F.col("n_items").cast("bigint").alias("catalog_size"),
            F.col("n_recommended").cast("bigint").alias("items_recommended"),
            F.col("n_slots").cast("bigint").alias("rec_slots"),
            F.round(
                F.col("n_recommended").cast("double")
                / F.col("n_items").cast("double"),
                6,
            ).alias("catalog_coverage"),
            F.round("mean_log_poprank", 6).alias("mean_log_pop_rank"),
        )
    )


@register(
    "shannon_code_lengths",
    oracle="""
    WITH cnt AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents) WHERE w <> '' GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM cnt),
    lens AS (
      -- integer-exact Shannon length: smallest L with c * 2^L >= n
      SELECT cnt.w, cnt.c,
             (SELECT MIN(l.l)
              FROM (SELECT unnest(range(0, 41)) AS l) l, tot
              WHERE cnt.c * (CAST(1 AS BIGINT) << CAST(l.l AS INT)) >= tot.n)
               AS len
      FROM cnt),
    kraft AS (
      SELECT list_reduce(list(
               CAST(1 AS DOUBLE)
               / CAST(CAST(1 AS BIGINT) << CAST(len AS INT) AS DOUBLE)
               ORDER BY w), (a, b) -> a + b) AS kraft_sum,
             list_reduce(list(CAST(c * len AS DOUBLE) ORDER BY w),
                         (a, b) -> a + b) AS weighted_len,
             COUNT(*) AS vocab
      FROM lens),
    ent AS (
      SELECT list_reduce(list(
               -CAST(c AS DOUBLE)
               * LN(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
               / LN(CAST(2 AS DOUBLE))
               ORDER BY w), (a, b) -> a + b) / CAST(tot.n AS DOUBLE)
               AS entropy_bits
      FROM cnt, tot GROUP BY tot.n)
    SELECT CAST(k.vocab AS BIGINT) AS vocab_size,
           ROUND(k.kraft_sum, 6) AS kraft_sum,
           ROUND(k.weighted_len / CAST(t.n AS DOUBLE), 6)
             AS mean_code_bits,
           ROUND(e.entropy_bits, 6) AS entropy_bits,
           ROUND(k.weighted_len / CAST(t.n AS DOUBLE) - e.entropy_bits, 6)
             AS redundancy_bits
    FROM kraft k, ent e, tot t
    """,
)
def shannon_code_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon code lengths for the token vocabulary, computed with
    INTEGER arithmetic (the smallest L with c·2^L ≥ N — no float log
    near a power-of-two boundary can flip a ceil), the Kraft-inequality
    sum certifying the code is realizable (≤1), and the mean code
    length against the corpus entropy — the redundancy gap that
    Huffman would close. The per-token min-L lookup joins a 41-row
    powers table; everything else is folds."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
                )
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cnt = op_cache.track(cnt.cache())
    tot = cnt.agg(F.sum("c").alias("n"))
    ls = spark.range(0, 41).select(F.col("id").cast("int").alias("l"))
    lens = (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ls))
        .filter(
            F.col("c")
            * F.expr("shiftleft(CAST(1 AS BIGINT), l)")
            >= F.col("n")
        )
        .groupBy("w", "c")
        .agg(F.min("l").alias("len"))
    )
    kraft = lens.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(w, "
            "CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), len) "
            "AS DOUBLE) AS k))), "
            "cast(0 as double), (acc, e) -> acc + e.k)"
        ).alias("kraft_sum"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(w, "
            "CAST(c * len AS DOUBLE) AS wl))), "
            "cast(0 as double), (acc, e) -> acc + e.wl)"
        ).alias("weighted_len"),
        F.count(F.lit(1)).alias("vocab"),
    )
    ent = cnt.crossJoin(F.broadcast(tot)).agg(
        (
            F.expr(
                "aggregate(array_sort(collect_list(struct(w, "
                "-CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE) "
                "/ CAST(n AS DOUBLE)) / LN(CAST(2 AS DOUBLE)) AS h))), "
                "cast(0 as double), (acc, e) -> acc + e.h)"
            )
            / F.max("n").cast("double")
        ).alias("entropy_bits")
    )
    return (
        kraft.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("vocab").cast("bigint").alias("vocab_size"),
            F.round("kraft_sum", 6).alias("kraft_sum"),
            F.round(
                F.col("weighted_len") / F.col("n").cast("double"), 6
            ).alias("mean_code_bits"),
            F.round("entropy_bits", 6).alias("entropy_bits"),
            F.round(
                F.col("weighted_len") / F.col("n").cast("double")
                - F.col("entropy_bits"),
                6,
            ).alias("redundancy_bits"),
        )
    )


__all__ = [
    'f1_threshold_selection',
    'prefix_cache_savings',
    'negative_sampling_distribution',
    'logistic_newton_glm',
    'poisson_glm_newton',
    'mcnemar_paired_test',
    'hmm_forward_loglik',
    'binned_kde_density',
    'cramer_von_mises_test',
    'chain_ladder_retention',
    'simplified_silhouette',
    'ftl_regret_replay',
    'shift_share_decomposition',
    'fisher_price_index',
    'capture_recapture_estimate',
    'obrien_fleming_replay',
    'selectivity_histogram_audit',
    'hamilton_apportionment',
    'trimmed_mean_embedding',
    'geometric_median_weiszfeld',
    'submodular_coverage_selection',
    'mmr_diversified_rerank',
    'panel_fixed_effects_slope',
    'selection_logdet_diversity',
    'gpd_tail_fit_pwm',
    'kupiec_var_backtest',
    'topk_turnover_stability',
    'anova_oneway_f',
    'levene_median_test',
    'runs_test_randomness',
    'ljung_box_q',
    'kendall_tau_b',
    'durbin_watson_residuals',
    'moods_median_test',
    'poisson_overdispersion_check',
    'fairness_group_metrics',
    'ood_diagonal_mahalanobis',
    'davies_bouldin_index',
    'chatterjee_xi_dependence',
    'structural_break_chow',
    'myerson_reserve_price',
    'newsvendor_quantile_cost',
    'secretary_stopping_replay',
    'exact_permutation_test',
    'brier_decomposition',
    'ridge_regression_2feature',
    'itemitem_cosine_cf',
    'expectile_asymmetric_mean',
    'markowitz_two_asset',
    'g2_keyness_terms',
    'recsys_coverage_novelty',
    'shannon_code_lengths',
]
