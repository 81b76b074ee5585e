"""similarity queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "similarity_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                              [CAST(x AS DOUBLE) FOR x IN e.embedding]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                                    [CAST(x AS DOUBLE) FOR x IN q.q_vec])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN e.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN e.embedding]))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cosine FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def similarity_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return sim_mod.cosine_topk(emb, qs, k=3).orderBy("query_id", "rank")


@register("similarity_lsh_topk")  # oracle attached below (_lsh_topk_oracle)
def similarity_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    qs = emb.filter(F.col("vec_id") < 5)
    return sim_mod.lsh_topk(emb, qs, dim=dim, k=3).orderBy("query_id", "rank")


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS xs
      FROM embeddings),
    m AS (
      SELECT vec_id, xs, list_max([abs(x) FOR x IN xs]) AS maxabs FROM v)
    SELECT vec_id, maxabs,
           list_max([abs(x - round(x * (127.0 / maxabs)) / (127.0 / maxabs))
                     FOR x IN xs]) AS max_err
    FROM m WHERE maxabs > 0 ORDER BY vec_id LIMIT 50
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization round-trip: per-vector scale =
    127/max|x|, reconstruction error = max|x - round(x*scale)/scale|.
    Every arithmetic step is an element-wise IEEE double op (max is
    order-free), so the doubles compare bit-exact with no rounding."""
    emb = _t(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(F.col("xs"), F.abs))
    scale = F.lit(127.0) / F.col("maxabs")
    err = F.array_max(
        F.transform(
            F.col("xs"),
            lambda x: F.abs(x - F.round(x * scale) / scale),
        )
    )
    return (
        emb.select("vec_id", xs.alias("xs"))
        .withColumn("maxabs", maxabs)
        .filter(F.col("maxabs") > 0)
        .select("vec_id", "maxabs", err.alias("max_err"))
        .orderBy("vec_id")
        .limit(50)
    )


@register(
    "embedding_centroid_assign",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id,
                      [CAST(x AS DOUBLE) FOR x IN embedding] AS cs
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_sum([(xs[i] - cs[i]) * (xs[i] - cs[i])
                       FOR i IN range(1, len(xs) + 1)]) AS dist
      FROM (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS xs
            FROM embeddings) e
      CROSS JOIN c),
    assigned AS (
      SELECT vec_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, centroid_id) AS rn
      FROM scored)
    SELECT centroid_id, COUNT(*) AS n_assigned
    FROM assigned WHERE rn = 1
    GROUP BY centroid_id ORDER BY centroid_id
    """,
)
def embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the Lloyd's/IVF inner step): 8 seed
    centroids broadcast against the full corpus, per-centroid population
    counts. Argmin is robust to sub-ULP distance differences, so the
    counts are engine-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim_mod.centroid_assign(emb, cents)
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .orderBy("centroid_id")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lower(w) AS term
      FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents WHERE trim(text) <> '')),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored WHERE doc_id < 30) t
    WHERE rn <= 3 ORDER BY doc_id, tfidf DESC, term
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed idf (ln((N+1)/(df+1))+1), top-3 terms for the
    first 30 docs. Document frequency is computed over the WHOLE corpus
    before restricting output — the part people get wrong. All counting
    is JVM-side; one shuffle for tf, one for df (both map-side combined),
    idf joins back as a broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
    ).select("doc_id", F.lower("w").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 30)
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@register(
    "similarity_ivf_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                              [CAST(x AS DOUBLE) FOR x IN e.embedding]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                                    [CAST(x AS DOUBLE) FOR x IN q.q_vec])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN e.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN e.embedding]))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cosine FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def similarity_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with nprobe = n_centroids, which makes the
    candidate set exhaustive — so the exact brute-force oracle applies and
    the whole IVF machinery (centroid sampling, list assignment, probe
    join, per-list rescoring) is verified end-to-end. Production recall/
    cost trades down by lowering nprobe; see ``similarity_lsh_topk`` for
    the rows-only approximate variant."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return sim_mod.ivf_topk(
        emb, qs, k=3, n_centroids=16, nprobe=16
    ).orderBy("query_id", "rank")


@register("embedding_random_projection", oracle=_RP_ORACLE)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss-style dimensionality reduction: project the
    64-dim embeddings onto 4 pseudo-random axes (deterministic integer-
    derived weights so the oracle reproduces them exactly). The whole
    projection is a narrow per-row fold (sequence → transform →
    aggregate, codegen'd) — no shuffle, no UDF; at 100 TB this is a
    map-only pass whose cost is the scan itself. The left-to-right fold
    order matches DuckDB's list_reduce, keeping the doubles bit-equal."""
    emb = _t(spark, sf_dir, "embeddings")
    projs = [
        F.round(
            F.expr(
                f"""aggregate(
                      transform(sequence(0, 63),
                        j -> CAST(element_at(embedding, j + 1) AS DOUBLE)
                             * (CAST(((({d} * 64 + j) * 37) % 7 - 3) AS DOUBLE)
                                / CAST(3 AS DOUBLE))),
                      0.0D, (a, x) -> a + x)"""
            ),
            6,
        ).alias(f"p{d}")
        for d in range(4)
    ]
    return emb.select("vec_id", *projs).orderBy("vec_id")


@register(
    "tfidf_cosine_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest([list_aggregate(ws[i:i+2], 'string_agg', ' ')
                     FOR i IN range(1, len(ws) - 1)]) AS t
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
            FROM documents WHERE trim(text) <> '')
      WHERE len(ws) >= 3),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n FROM documents WHERE trim(text) <> ''),
    weights AS (
      SELECT tf.doc_id, tf.t,
             CAST(ROUND(CAST(tf.tf AS DOUBLE) *
                        ROUND(ln(CAST((SELECT n FROM nd) AS DOUBLE) /
                                 CAST(dfreq.df AS DOUBLE)), 6),
                        6) AS DECIMAL(18,6)) AS w
      FROM tf JOIN dfreq ON tf.t = dfreq.t
      WHERE CAST(dfreq.df AS DOUBLE) <=
            CAST(0.5 AS DOUBLE) * CAST((SELECT n FROM nd) AS DOUBLE)),
    norms AS (SELECT doc_id, SUM(w * w) AS norm_sq FROM weights GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM weights a JOIN weights b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT d.id_a, d.id_b,
             ROUND(CAST(d.dot AS DOUBLE) /
                   sqrt(CAST(na.norm_sq AS DOUBLE) *
                        CAST(nb.norm_sq AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.id_a
      JOIN norms nb ON nb.doc_id = d.id_b)
    SELECT id_a, id_b, cosine FROM scored
    WHERE cosine >= CAST(0.85 AS DOUBLE)
    ORDER BY id_a, id_b
    """,
)
def tfidf_cosine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pair join with exact-decimal dot products —
    the sum order can't perturb the hash, so the whole IR-style
    similarity pipeline is value-checked against DuckDB. Terms are word
    3-grams (phrase overlap): the synthetic corpus has a ~31-word base
    vocabulary, so unigram dfs approach N and the inverted-index join
    degenerates to all-pairs; 3-gram dfs stay small (max 25 at sf0.1)."""
    docs = _t(spark, sf_dir, "documents")
    return sim_mod.tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.85, n=3
    ).orderBy("id_a", "id_b")


@register_demo("tfidf_cosine_pairs_maxdf50")
def tfidf_cosine_pairs_maxdf50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tfidf_cosine_pairs scale variant with the ABSOLUTE df cap on
    (max_df_count=50): bounds every term's inverted-index join
    contribution to 50² rows, the guard that keeps a degenerate corpus
    (df ∝ N ⇒ join rows ∝ N² — the measured sf1 exponent 1.12 in
    SCALE_EVIDENCE §4) sub-quadratic. At sf0.1 the 3-gram dfs max out
    at ~25, so the cap does not bind and the result equals the oracled
    query's; at sf1 it prunes the commonest grams (recall vs the uncut
    result measured in SCALE_EVIDENCE §4). Demo-registered: the capped
    result is scale-dependent by design, so it is not value-oracled —
    the exact twin above is."""
    docs = _t(spark, sf_dir, "documents")
    return sim_mod.tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.85, n=3, max_df_count=50
    ).orderBy("id_a", "id_b")


@register("kmeans_lloyd_iteration", oracle=_kmeans_oracle(rounds=1))
def kmeans_lloyd_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Lloyd (k-means) round in EXACT integer arithmetic
    (see operators/similarity.py::kmeans_lloyd) — value-checked against
    DuckDB; the float formulation could never be (sum order perturbs the
    last ulp)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_mod.kmeans_lloyd(emb, k=8, rounds=1)


@register("kmeans_lloyd_3rounds", oracle=_kmeans_oracle(rounds=3))
def kmeans_lloyd_3rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three chained Lloyd rounds — the iterate-until-stable ML training
    loop as a DataFrame plan, every round replayed exactly by the DuckDB
    oracle. Two shuffles per round; centroids re-broadcast each round."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_mod.kmeans_lloyd(emb, k=8, rounds=3)


@register(
    "embedding_dimension_stats",
    oracle="""
    WITH vals AS (
      SELECT unnest(range(1, len(embedding)+1)) AS dim,
             unnest([CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))
                     FOR x IN embedding]) AS v
      FROM embeddings)
    SELECT dim, COUNT(*) AS n,
           ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_v,
           CAST(MIN(v) AS DOUBLE) AS min_v,
           CAST(MAX(v) AS DOUBLE) AS max_v
    FROM vals GROUP BY dim
    ORDER BY dim
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/min/max across the
    corpus) — the hygiene view that exposes dead dimensions, scale
    drift, or a miswired encoder. Each float rounds into DECIMAL before
    the column sums, so the per-dimension means are exact and identical
    under any row ordering; min/max are order-free anyway."""
    emb = _t(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))"
            )
        ).alias("dim0", "v")
    ).select((F.col("dim0") + 1).alias("dim"), "v")
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_v"),
            F.min("v").cast("double").alias("min_v"),
            F.max("v").cast("double").alias("max_v"),
        )
        .orderBy("dim")
    )


@register(
    "knn_label_classifier",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, q.true_label, e.vec_id AS nid, e.label,
             {_VDOT_KNN.format(a="q.qv", b="e.embedding")} /
             (sqrt({_VDOT_KNN.format(a="q.qv", b="q.qv")}) *
              sqrt({_VDOT_KNN.format(a="e.embedding", b="e.embedding")})) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    top5 AS (
      SELECT query_id, true_label, label FROM (
        SELECT query_id, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, nid) AS rn
        FROM scored)
      WHERE rn <= 5),
    votes AS (
      SELECT query_id, true_label, label, COUNT(*) AS n_votes
      FROM top5 GROUP BY query_id, true_label, label)
    SELECT query_id, true_label,
           CAST(label AS INT) AS predicted_label,
           CAST(n_votes AS INT) AS n_votes,
           CASE WHEN label = true_label THEN 1 ELSE 0 END AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC, label) AS rv
          FROM votes)
    WHERE rv = 1
    ORDER BY query_id
    """,
)
def knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5) majority-vote label classifier over the embedding table —
    the eval-set pattern of training-data curation (label a sample by its
    nearest labeled neighbors). Brute-force scoring is fine for the probe
    set (queries broadcast, corpus streamed); swap the candidate generation
    for lsh_topk/ivf_topk at corpus scale — voting is identical. Ties break
    by (votes desc, label asc); neighbor ranking by (cosine desc, id)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    joined = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("nid"),
        "label",
        sim_mod.cosine(F.col("qv"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "nid")
    top5 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    return (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").cast("int").alias("predicted_label"),
            F.col("n_votes").cast("int").alias("n_votes"),
            F.when(F.col("label") == F.col("true_label"), 1).otherwise(0).alias("correct"),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_pq_assign",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    expl AS (
      SELECT vec_id, unnest(qv) AS val,
             unnest(range(0, len(qv))) AS pos0
      FROM q),
    dims AS (
      SELECT vec_id, pos0 // 8 AS sub, pos0 % 8 AS dpos, val FROM expl),
    cents AS (
      SELECT vec_id AS cid, sub, dpos, val AS cval FROM dims WHERE vec_id < 16),
    dists AS (
      SELECT d.vec_id, d.sub, c.cid,
             SUM((d.val - c.cval) * (d.val - c.cval)) AS dist
      FROM dims d JOIN cents c ON c.sub = d.sub AND c.dpos = d.dpos
      GROUP BY d.vec_id, d.sub, c.cid),
    assign AS (
      SELECT vec_id, sub, cid, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM dists)
      WHERE rn = 1)
    SELECT CAST(sub AS INT) AS subspace,
           COUNT(*) AS n_vectors,
           CAST(COUNT(DISTINCT cid) AS INT) AS n_codes_used,
           ROUND(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6) AS avg_sq_err
    FROM assign
    GROUP BY sub
    ORDER BY subspace
    """,
)
def embedding_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: 64-dim vectors split into 8
    subspaces of 8 dims, each subvector snapped to its nearest of 16
    deterministic codebook entries (the sub-vectors of ids 0..15) in exact
    integer L2. Reports codebook utilization + mean quantization error per
    subspace — the calibration readout you tune M/K with before committing
    a 100 TB ANN index to PQ codes. The distance computation is one
    (sub,dpos)-keyed join + aggregate: distance-table shaped, no per-row
    Python, linear in vectors x codebook."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    dims = q.select(
        "vec_id", F.posexplode("qv").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") / 8).cast("int").alias("sub"),
        (F.col("pos0") % 8).alias("dpos"),
        "val",
    )
    cents = dims.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "sub", "dpos", F.col("val").alias("cval")
    )
    dists = (
        dims.join(F.broadcast(cents), ["sub", "dpos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("dist")
        )
    )
    wmin = Window.partitionBy("vec_id", "sub").orderBy("dist", "cid")
    assign = (
        dists.withColumn("rn", F.row_number().over(wmin)).filter(F.col("rn") == 1)
    )
    return (
        assign.groupBy("sub")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("cid").cast("int").alias("n_codes_used"),
            F.round(F.sum("dist").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_sq_err"
            ),
        )
        .select(
            F.col("sub").cast("int").alias("subspace"),
            "n_vectors",
            "n_codes_used",
            "avg_sq_err",
        )
        .orderBy("subspace")
    )


@register("similarity_lsh_recall_eval")
def similarity_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the LSH index against the brute-force ground
    truth — the accept/reject gate before pointing an ANN index at the
    full corpus. Composes the two oracle-checked retrievals and joins on
    (query, neighbor); the oracle composes the exact same two SQL bodies,
    so the measured recall itself is value-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    qs = emb.filter(F.col("vec_id") < 5)
    exact = sim_mod.cosine_topk(emb, qs, k=3)
    approx = sim_mod.lsh_topk(emb, qs, dim=dim, k=3).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = exact.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_exact"),
            F.sum(F.when(F.col("an").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_hit"),
            F.round(
                F.sum(F.when(F.col("an").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


@register("embedding_semantic_clusters")
def embedding_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-game: hyperplane-bucketed cosine near-dup pairs
    (the oracle-checked embedding_near_dup_pairs output) fed into
    min-label-propagation connected components — the cluster map you keep
    one representative per. Composes two independently-oracled operators;
    the composition itself is value-checked against the recursive-CTE
    transitive closure."""
    from ..streaming.stateful import _scoped_shuffle_partitions

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    pairs = sim_mod.embedding_near_dup_pairs(emb, dim=dim, threshold=0.2)
    with _scoped_shuffle_partitions(emb.sparkSession, 8):
        comp = dedup_mod.connected_components(pairs, "id_a", "id_b")
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("component").alias("cluster_id"), "size")
        .orderBy(F.desc("size"), "cluster_id")
    )


@register(
    "embedding_matryoshka_error",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             [CAST(x AS DOUBLE) FOR x IN embedding] AS fv
      FROM embeddings),
    parts AS (
      SELECT label,
             list_reduce([fv[i] * fv[i] FOR i IN range(1, 17)],
                         (a, b) -> a + b) AS head_sq,
             list_reduce([fv[i] * fv[i] FOR i IN range(1, len(fv) + 1)],
                         (a, b) -> a + b) AS full_sq
      FROM v)
    SELECT label,
           COUNT(*) AS n_vectors,
           -- quantize each ratio to DECIMAL before summing: float-sum
           -- order across partitions must not perturb the average
           ROUND(CAST(SUM(CAST(ROUND(sqrt(head_sq) / sqrt(full_sq), 9)
                               AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*), 6)
             AS avg_cos_to_full,
           ROUND(MIN(sqrt(head_sq) / sqrt(full_sq)), 6) AS min_cos_to_full
    FROM parts GROUP BY label ORDER BY label
    """,
)
def embedding_matryoshka_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: cosine between each embedding and its
    first-16-dims truncation (zero-padded), i.e. ||head|| / ||full|| —
    the retained-similarity readout that decides whether a cheaper
    truncated index is acceptable. Per-label aggregation shows whether
    truncation hurts some classes more. Pure higher-order-function folds,
    JVM-side, no shuffle beyond the label aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    fv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head_sq = F.aggregate(
        F.transform(F.slice(fv, 1, 16), lambda x: x * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    full_sq = F.aggregate(
        F.transform(fv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    parts = emb.select(
        "label", (F.sqrt(head_sq) / F.sqrt(full_sq)).alias("r")
    )
    return (
        parts.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.round(F.col("r"), 9).cast("decimal(12,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cos_to_full"),
            F.round(F.min("r"), 6).alias("min_cos_to_full"),
        )
        .orderBy("label")
    )


@register(
    "similarity_ivf_list_balance",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cv FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY
                 {_MD5H.format(col="concat('ivf:', CAST(vec_id AS VARCHAR))")},
                 vec_id) AS rn
        FROM embeddings)
      WHERE rn <= 16),
    scored AS (
      SELECT e.vec_id, c.cid,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN e.embedding],
                              [CAST(x AS DOUBLE) FOR x IN c.cv]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN e.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN e.embedding])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN c.cv],
                                    [CAST(x AS DOUBLE) FOR x IN c.cv]))) AS cos
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM scored)
      WHERE rn = 1),
    sizes AS (SELECT cid, COUNT(*) AS n_vectors FROM assign GROUP BY cid),
    tot AS (SELECT COUNT(*) AS n FROM assign)
    SELECT CAST(cid AS BIGINT) AS list_id,
           CAST(n_vectors AS BIGINT) AS n_vectors,
           ROUND(CAST(n_vectors AS DOUBLE) * 16 / (SELECT n FROM tot), 6)
             AS load_factor
    FROM sizes ORDER BY list_id
    """,
)
def similarity_ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index diagnostics: inverted-list occupancy and load factor
    (size ÷ ideal size) for 16 md5-sampled centroids — with the PQ error
    readout and LSH recall eval, the third leg of the ANN index
    calibration kit. load_factor ≫ 1 lists are the probe-cost hot spots
    you fix with better centroids before indexing 100 TB. Assignment is
    a broadcast of 16 centroid rows + one argmax window per vector."""
    emb = _t(spark, sf_dir, "embeddings")
    h = F.expr(
        dedup_mod.PORTABLE_HASH_SQL.format(
            col="concat('ivf:', CAST(vec_id AS STRING))"
        )
    )
    cents = (
        emb.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), h.alias("h")
        )
        .orderBy("h", "cid")
        .limit(16)
        .drop("h")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", sim_mod.cosine(F.col("embedding"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "cid")
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = assign.agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.join(F.broadcast(tot))
        .select(
            F.col("cid").cast("bigint").alias("list_id"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.round(
                F.col("n_vectors").cast("double") * 16 / F.col("n"), 6
            ).alias("load_factor"),
        )
        .orderBy("list_id")
    )


@register(
    "embedding_power_iteration_pc1",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0) - 192
              FOR x IN embedding] AS xc
      FROM embeddings),
    expl AS (
      SELECT vec_id, unnest(xc) AS x,
             unnest(range(1, len(xc) + 1)) AS i
      FROM q),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS gij
      FROM expl a JOIN expl b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i),
    v1 AS (
      SELECT j, SUM(gij) AS v FROM g GROUP BY j),
    s1 AS (
      SELECT j AS i, CAST(FLOOR(CAST(v AS DOUBLE) / 16384) AS BIGINT) AS s
      FROM v1),
    v2 AS (
      SELECT g.j, SUM(g.gij * s1.s) AS v
      FROM g JOIN s1 ON s1.i = g.i
      GROUP BY g.j),
    nrm AS (
      SELECT SQRT(CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
                       AS DOUBLE)) AS nn
      FROM v2)
    SELECT CAST(j AS INT) AS dim,
           ROUND(CAST(v AS DOUBLE) / nn, 6) AS loading
    FROM v2, nrm
    ORDER BY dim
    """,
)
def embedding_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (constant-centered, quantized)
    embedding matrix by TWO power-iteration steps on the 64x64 Gram
    matrix — distributed PCA the way it actually runs at scale: the only
    corpus-sized operation is the Gram accumulation (each vector's 64x64
    outer product generated in-row, map-side combinable to 4096 cells;
    no join, one exchange).
    The Gram is VERTEX-sized (64x64 whatever the corpus), so the
    iteration runs on the collected cells driver-side in exact integer
    arithmetic — the same split Spark MLlib's PCA uses (RowMatrix
    collects the Gramian and eigendecomposes locally). The previous
    all-DataFrame formulation chained three broadcast jobs + a cache
    over those 4096 rows and its wall time was pure job-scheduling
    overhead (profiled: ~1.8s of which the Gram was 0.07s). FLOOR-
    rescale between steps matches across engines (unlike integer div on
    negatives); the float-sensitive tail (norm, divide, round) stays in
    Spark SQL on a local 64-row relation so the reported doubles keep
    engine semantics bit-for-bit."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding").select(
        "vec_id", F.expr("transform(qv, x -> x - 192)").alias("xc")
    )
    # Gram accumulation with NO join: each vector's 64x64 outer product
    # is generated in-row by two chained posexplodes (narrow, codegen) and
    # partial-aggregated map-side to 4096 cells per task before the single
    # groupBy exchange. The previous expl-self-join on vec_id shuffled the
    # exploded corpus TWICE and sorted both sides for a sort-merge join
    # whose output this same aggregate then reduced — identical integer
    # sums, cell for cell, with two exchanges and a join removed
    # (r10 verdict ask #7; guide §2.4).
    g_rows = (
        q.select(F.posexplode("xc").alias("i0", "xi"), "xc")
        .select(
            (F.col("i0") + 1).alias("i"),
            "xi",
            F.posexplode("xc").alias("j0", "xj"),
        )
        .groupBy("i", (F.col("j0") + 1).alias("j"))
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("gij"))
        .collect()  # 4096 integer cells — corpus-independent
    )
    G = {(r["i"], r["j"]): r["gij"] for r in g_rows}
    dims = sorted({i for i, _ in G})
    # step 1: v1 = G · 1, rescaled by floor(v/16384) in DOUBLE (exact:
    # |v1| < 2^53). step 2: v2 = G · s1 — pure int64, overflow-free.
    v1 = {j: sum(G[(i, j)] for i in dims) for j in dims}
    s1 = {i: math.floor(float(v1[i]) / 16384) for i in dims}
    v2 = {j: sum(G[(i, j)] * s1[i] for i in dims) for j in dims}
    v2_df = spark.createDataFrame(
        [(j, v2[j]) for j in dims], "j int, v bigint"
    )
    nrm = v2_df.agg(
        F.sqrt(
            F.sum(
                F.col("v").cast("decimal(19,0)") * F.col("v").cast("decimal(19,0)")
            ).cast("double")
        ).alias("nn")
    )
    return (
        v2_df.crossJoin(F.broadcast(nrm))
        .select(
            F.col("j").cast("int").alias("dim"),
            F.round(F.col("v").cast("double") / F.col("nn"), 6).alias("loading"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_pq_adc_recall",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    dims AS (
      SELECT vec_id, pos0 // 8 AS sub, pos0 % 8 AS dpos, val
      FROM (SELECT vec_id, unnest(qv) AS val,
                   unnest(range(0, len(qv))) AS pos0 FROM q)),
    cents AS (
      SELECT vec_id AS cid, sub, dpos, val AS cval FROM dims WHERE vec_id < 16),
    code_d AS (
      SELECT d.vec_id, d.sub, c.cid,
             SUM((d.val - c.cval) * (d.val - c.cval)) AS dist
      FROM dims d JOIN cents c ON c.sub = d.sub AND c.dpos = d.dpos
      GROUP BY d.vec_id, d.sub, c.cid),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM code_d) WHERE rn = 1),
    probes AS (SELECT vec_id AS pid FROM q WHERE vec_id < 3),
    adc AS (
      SELECT p.pid, k.vec_id AS xid, SUM(cd.dist) AS adist
      FROM probes p
      JOIN codes k ON k.vec_id <> p.pid
      JOIN code_d cd ON cd.vec_id = p.pid AND cd.sub = k.sub
                    AND cd.cid = k.cid
      GROUP BY p.pid, k.vec_id),
    adc_top AS (
      SELECT pid, xid FROM (
        SELECT pid, xid,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY adist, xid) AS rn
        FROM adc) WHERE rn <= 10),
    exact AS (
      SELECT p.pid, x.vec_id AS xid,
             SUM((dp.val - dx.val) * (dp.val - dx.val)) AS edist
      FROM probes p
      JOIN q x ON x.vec_id <> p.pid
      JOIN dims dp ON dp.vec_id = p.pid
      JOIN dims dx ON dx.vec_id = x.vec_id AND dx.sub = dp.sub
                  AND dx.dpos = dp.dpos
      GROUP BY p.pid, x.vec_id),
    exact_top AS (
      SELECT pid, xid FROM (
        SELECT pid, xid,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY edist, xid) AS rn
        FROM exact) WHERE rn <= 10)
    SELECT a.pid AS probe_id,
           CAST(10 AS INT) AS k,
           CAST(COUNT(e.xid) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(e.xid) AS DOUBLE) / 10, 6) AS recall_at_10
    FROM adc_top a
    LEFT JOIN exact_top e ON e.pid = a.pid AND e.xid = a.xid
    GROUP BY a.pid
    ORDER BY probe_id
    """,
)
def embedding_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SEARCH path (not just code assignment): asymmetric distance
    computation — probe-to-centroid lookup tables summed over the stored
    codes — produces each probe's ADC top-10, evaluated as recall
    against exact quantized L2. Everything is integer arithmetic (exact
    codes, exact ADC sums, deterministic tiebreaks), so the whole
    approximate-search pipeline carries a full value oracle. Plan: the
    corpus-scale work is one codes table and one broadcastable
    (probe x sub x centroid) lookup — the scan side never materializes
    probe x corpus x dims."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    dims = q.select(
        "vec_id", F.posexplode("qv").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") / 8).cast("int").alias("sub"),
        (F.col("pos0") % 8).alias("dpos"),
        "val",
    )
    dims = op_cache.reuse(dims)
    cents = dims.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "sub", "dpos", F.col("val").alias("cval")
    )
    code_d = (
        dims.join(F.broadcast(cents), ["sub", "dpos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("dist")
        )
    )
    code_d = op_cache.reuse(code_d)
    wcode = Window.partitionBy("vec_id", "sub").orderBy("dist", "cid")
    codes = (
        code_d.withColumn("rn", F.row_number().over(wcode))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    probe_lut = code_d.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("pid"), "sub", "cid", "dist"
    )
    adc = (
        codes.join(
            F.broadcast(probe_lut),
            (codes.sub == probe_lut.sub)
            & (codes.cid == probe_lut.cid)
            & (codes.vec_id != probe_lut.pid),
        )
        .groupBy("pid", F.col("vec_id").alias("xid"))
        .agg(F.sum("dist").alias("adist"))
    )
    wtop = Window.partitionBy("pid").orderBy("adist", "xid")
    adc_top = (
        adc.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 10)
        .select("pid", "xid")
    )
    pd_ = dims.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("pid"), "sub", "dpos", F.col("val").alias("pval")
    )
    exact = (
        dims.join(F.broadcast(pd_), ["sub", "dpos"])
        .filter(F.col("vec_id") != F.col("pid"))
        .groupBy("pid", F.col("vec_id").alias("xid"))
        .agg(
            F.sum(
                (F.col("val") - F.col("pval")) * (F.col("val") - F.col("pval"))
            ).alias("edist")
        )
    )
    wex = Window.partitionBy("pid").orderBy("edist", "xid")
    exact_top = (
        exact.withColumn("rn", F.row_number().over(wex))
        .filter(F.col("rn") <= 10)
        .select(F.col("pid").alias("epid"), F.col("xid").alias("exid"))
    )
    return (
        adc_top.join(
            exact_top,
            (F.col("pid") == F.col("epid")) & (F.col("xid") == F.col("exid")),
            "left",
        )
        .groupBy(F.col("pid").alias("probe_id"))
        .agg(
            F.lit(10).cast("int").alias("k"),
            F.count("exid").cast("bigint").alias("n_hits"),
            F.round(F.count("exid").cast("double") / 10, 6).alias("recall_at_10"),
        )
        .orderBy("probe_id")
    )


@register(
    "trajectory_similarity_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id,
             list_aggregate(list(substr(event_type, 1, 1) ORDER BY rn),
                            'string_agg', '') AS path
      FROM seq WHERE rn <= 20 GROUP BY user_id),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             levenshtein(a.path, b.path) AS dist
      FROM paths a JOIN paths b
        ON substr(a.path, 1, 1) = substr(b.path, 1, 1)
       AND a.user_id < b.user_id)
    SELECT user_a, user_b, CAST(dist AS INT) AS edit_distance
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY dist, user_a, user_b) AS rk
          FROM pairs)
    WHERE rk <= 10
    ORDER BY edit_distance, user_a, user_b
    """,
)
def trajectory_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity (the REPOSE/top-k-similarity family on
    behavioral paths): each user's first 20 events compress to a
    character path (first letter of each event type), pairs BLOCKED on
    the same starting step get an edit distance, and the 10 most similar
    pairs surface. Blocking bounds the pair count exactly like the
    dedup family's language blocking; Levenshtein runs JVM-side in both
    engines with integer results."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("c"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 20)
    paths = seq.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(rn, c))), s -> s.c), '')"
        ).alias("path")
    )
    a = paths.select(F.col("user_id").alias("user_a"), F.col("path").alias("pa"))
    b = paths.select(F.col("user_id").alias("user_b"), F.col("path").alias("pb"))
    pairs = a.join(
        b,
        (F.substring("pa", 1, 1) == F.substring("pb", 1, 1))
        & (F.col("user_a") < F.col("user_b")),
    ).select(
        "user_a", "user_b", F.levenshtein("pa", "pb").alias("dist")
    )
    return (
        pairs.orderBy("dist", "user_a", "user_b")
        .limit(10)
        .select("user_a", "user_b", F.col("dist").cast("int").alias("edit_distance"))
        .orderBy("edit_distance", "user_a", "user_b")
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid, qv, vec_id % 2 AS half FROM (
        SELECT x.vec_id, c.cid, x.qv,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY list_sum([ (x.qv[i] - c.cv[i]) * (x.qv[i] - c.cv[i])
                                     FOR i IN range(1, len(x.qv) + 1) ]),
                          c.cid) AS rn
        FROM q x CROSS JOIN cents c)
      WHERE rn = 1),
    dimvals AS (
      SELECT cid, half, unnest(qv) AS val,
             unnest(range(1, len(qv) + 1)) AS d
      FROM assign),
    means AS (
      SELECT cid, half, d, SUM(val) // COUNT(*) AS m
      FROM dimvals GROUP BY cid, half, d),
    counts AS (
      SELECT cid, half, COUNT(*) AS n FROM assign GROUP BY cid, half),
    drift AS (
      SELECT a.cid, SUM((a.m - b.m) * (a.m - b.m)) AS d2
      FROM means a JOIN means b ON b.cid = a.cid AND b.d = a.d
      WHERE a.half = 0 AND b.half = 1
      GROUP BY a.cid)
    SELECT d.cid AS cluster_id,
           CAST(c0.n AS BIGINT) AS n_half0,
           CAST(c1.n AS BIGINT) AS n_half1,
           ROUND(SQRT(CAST(d.d2 AS DOUBLE)), 6) AS centroid_drift
    FROM drift d
    JOIN counts c0 ON c0.cid = d.cid AND c0.half = 0
    JOIN counts c1 ON c1.cid = d.cid AND c1.half = 1
    ORDER BY cluster_id
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: vectors split into two
    halves (vec_id parity — the before/after proxy), assigned to the
    nearest of 8 fixed seed centroids, and each cluster's per-half
    integer centroid compared by L2 — the production check that an
    embedding model upgrade or a corpus shift hasn't silently moved the
    space under an ANN index. Integer means (floor division on
    non-negative sums is engine-identical) keep everything exact until
    the final sqrt."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    cents = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    dists = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", "qv",
        F.expr(
            "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), 0, (acc, x) -> acc + x)"
        ).alias("dist"),
    )
    wassign = Window.partitionBy("vec_id").orderBy("dist", "cid")
    assign = (
        dists.withColumn("rn", F.row_number().over(wassign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "qv", (F.col("vec_id") % 2).alias("half"))
    )
    assign = op_cache.reuse(assign)
    dimvals = assign.select(
        "cid", "half", F.posexplode("qv").alias("d0", "val")
    ).select("cid", "half", (F.col("d0") + 1).alias("d"), "val")
    means = dimvals.groupBy("cid", "half", "d").agg(
        F.expr("sum(val) div count(1)").alias("m")
    )
    counts = assign.groupBy("cid", "half").agg(F.count(F.lit(1)).alias("n"))
    a = means.filter(F.col("half") == 0).select(
        "cid", "d", F.col("m").alias("m0")
    )
    b = means.filter(F.col("half") == 1).select(
        F.col("cid").alias("cid2"), F.col("d").alias("d2x"), F.col("m").alias("m1")
    )
    drift = (
        a.join(b, (a.cid == b.cid2) & (a.d == b.d2x))
        .groupBy("cid")
        .agg(
            F.sum(
                (F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1"))
            ).alias("dd")
        )
    )
    c0 = counts.filter(F.col("half") == 0).select(
        "cid", F.col("n").alias("n_half0")
    )
    c1 = counts.filter(F.col("half") == 1).select(
        F.col("cid").alias("cidb"), F.col("n").alias("n_half1")
    )
    return (
        drift.join(F.broadcast(c0), "cid")
        .join(F.broadcast(c1), drift.cid == c1.cidb)
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("n_half0").cast("bigint").alias("n_half0"),
            F.col("n_half1").cast("bigint").alias("n_half1"),
            F.round(F.sqrt(F.col("dd").cast("double")), 6).alias(
                "centroid_drift"
            ),
        )
        .orderBy("cluster_id")
    )


@register(
    "similarity_ivfpq_search",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    dims AS (
      SELECT vec_id, pos0 // 8 AS sub, pos0 % 8 AS dpos, val
      FROM (SELECT vec_id, unnest(qv) AS val,
                   unnest(range(0, len(qv))) AS pos0 FROM q)),
    coarse AS (
      SELECT vec_id AS ccid, sub, dpos, val AS ccval
      FROM dims WHERE vec_id < 8),
    cd AS (
      SELECT d.vec_id, c.ccid,
             SUM((d.val - c.ccval) * (d.val - c.ccval)) AS dist
      FROM dims d JOIN coarse c ON c.sub = d.sub AND c.dpos = d.dpos
      GROUP BY d.vec_id, c.ccid),
    assign AS (
      SELECT vec_id, ccid AS list_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, ccid) AS rn
        FROM cd) WHERE rn = 1),
    probes AS (SELECT vec_id AS pid FROM q WHERE vec_id < 3),
    probe_lists AS (
      SELECT pid, ccid AS list_id FROM (
        SELECT p.pid, cd.ccid,
               ROW_NUMBER() OVER (PARTITION BY p.pid
                                  ORDER BY cd.dist, cd.ccid) AS rn
        FROM probes p JOIN cd ON cd.vec_id = p.pid) WHERE rn <= 2),
    cand AS (
      SELECT pl.pid, a.vec_id AS xid
      FROM probe_lists pl JOIN assign a ON a.list_id = pl.list_id
      WHERE a.vec_id <> pl.pid),
    subcents AS (
      SELECT vec_id AS cid, sub, dpos, val AS scval
      FROM dims WHERE vec_id < 16),
    code_d AS (
      SELECT d.vec_id, d.sub, s.cid,
             SUM((d.val - s.scval) * (d.val - s.scval)) AS dist
      FROM dims d JOIN subcents s ON s.sub = d.sub AND s.dpos = d.dpos
      GROUP BY d.vec_id, d.sub, s.cid),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, cid) AS rn
        FROM code_d) WHERE rn = 1),
    adc AS (
      SELECT c.pid, c.xid, SUM(cd2.dist) AS adist
      FROM cand c
      JOIN codes k ON k.vec_id = c.xid
      JOIN code_d cd2 ON cd2.vec_id = c.pid AND cd2.sub = k.sub
                     AND cd2.cid = k.cid
      GROUP BY c.pid, c.xid),
    adc_top AS (
      SELECT pid, xid FROM (
        SELECT pid, xid,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY adist, xid) AS rn
        FROM adc) WHERE rn <= 20),
    exact AS (
      SELECT t.pid, t.xid,
             SUM((dx.val - dp.val) * (dx.val - dp.val)) AS edist
      FROM adc_top t
      JOIN dims dp ON dp.vec_id = t.pid
      JOIN dims dx ON dx.vec_id = t.xid AND dx.sub = dp.sub
                  AND dx.dpos = dp.dpos
      GROUP BY t.pid, t.xid)
    SELECT pid AS probe_id, xid AS neighbor_id, CAST(rn AS INT) AS rank,
           CAST(edist AS BIGINT) AS l2_sq
    FROM (SELECT pid, xid, edist,
                 ROW_NUMBER() OVER (PARTITION BY pid
                                    ORDER BY edist, xid) AS rn
          FROM exact)
    WHERE rn <= 10
    ORDER BY probe_id, rank
    """,
)
def similarity_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN path (FAISS IVF+PQ shape): a coarse
    quantizer restricts each probe to its nprobe=2 nearest inverted
    lists, PQ asymmetric-distance lookup tables rank the surviving
    candidates, and the ADC top-20 is re-ranked by exact quantized L2
    to the final top-10 — candidate pruning, compressed scoring, and
    exact re-rank verified end-to-end in integer arithmetic.

    Plan at scale: the coarse assignment is a broadcast of 8 centroid
    rows against the corpus (one pass), candidate generation is an
    equi-join on list_id (no all-pairs stage), the ADC join touches
    only candidates x 8 sub-codes with a broadcastable probe LUT, and
    the exact re-rank touches 20 rows per probe."""
    emb = _t(spark, sf_dir, "embeddings")
    qz = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    dims = qz.select(
        "vec_id", F.posexplode("qv").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") / 8).cast("int").alias("sub"),
        (F.col("pos0") % 8).alias("dpos"),
        "val",
    )
    dims = op_cache.reuse(dims)
    coarse = dims.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("ccid"), "sub", "dpos", F.col("val").alias("ccval")
    )
    cd = (
        dims.join(F.broadcast(coarse), ["sub", "dpos"])
        .groupBy("vec_id", "ccid")
        .agg(
            F.sum(
                (F.col("val") - F.col("ccval")) * (F.col("val") - F.col("ccval"))
            ).alias("dist")
        )
    )
    cd = op_cache.reuse(cd)
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "ccid")
    assign = (
        cd.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("ccid").alias("list_id"))
    )
    w_probe = Window.partitionBy("pid").orderBy("dist", "ccid")
    probe_lists = (
        cd.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("pid"), "ccid", "dist")
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("pid", F.col("ccid").alias("list_id"))
    )
    cand = (
        assign.join(F.broadcast(probe_lists), "list_id")
        .filter(F.col("vec_id") != F.col("pid"))
        .select("pid", F.col("vec_id").alias("xid"))
    )
    subcents = dims.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "sub", "dpos", F.col("val").alias("scval")
    )
    code_d = (
        dims.join(F.broadcast(subcents), ["sub", "dpos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("scval")) * (F.col("val") - F.col("scval"))
            ).alias("dist")
        )
    )
    code_d = op_cache.reuse(code_d)
    w_code = Window.partitionBy("vec_id", "sub").orderBy("dist", "cid")
    codes = (
        code_d.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    probe_lut = code_d.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("pid"), "sub", "cid", F.col("dist").alias("ldist")
    )
    adc = (
        cand.join(codes, cand.xid == codes.vec_id)
        .join(F.broadcast(probe_lut), ["pid", "sub", "cid"])
        .groupBy("pid", "xid")
        .agg(F.sum("ldist").alias("adist"))
    )
    w_adc = Window.partitionBy("pid").orderBy("adist", "xid")
    adc_top = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= 20)
        .select("pid", "xid")
    )
    dp = dims.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("pid"), "sub", "dpos", F.col("val").alias("pval")
    )
    exact = (
        # adc_top is <= 20 rows per probe — broadcast it against the
        # corpus-scale dims scan rather than shuffling dims
        dims.join(F.broadcast(adc_top), dims.vec_id == adc_top.xid)
        .join(F.broadcast(dp), ["pid", "sub", "dpos"])
        .groupBy("pid", "xid")
        .agg(
            F.sum(
                (F.col("val") - F.col("pval")) * (F.col("val") - F.col("pval"))
            ).alias("edist")
        )
    )
    w_final = Window.partitionBy("pid").orderBy("edist", "xid")
    return (
        exact.withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("xid").alias("neighbor_id"),
            F.col("rn").cast("int").alias("rank"),
            F.col("edist").cast("bigint").alias("l2_sq"),
        )
        .orderBy("probe_id", "rank")
    )


@register(
    "mann_whitney_u_orders",
    oracle="""
    WITH pool AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    vals AS (
      SELECT v, COUNT(*) AS cnt, SUM(grp) AS n_a_at_v FROM pool GROUP BY v),
    ranked AS (
      SELECT v, cnt, n_a_at_v,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM vals),
    r2 AS (
      SELECT CAST(SUM(n_a_at_v * (2 * below + cnt + 1)) AS BIGINT) AS r2_a,
             CAST(SUM(n_a_at_v) AS BIGINT) AS n_a,
             CAST(SUM(cnt - n_a_at_v) AS BIGINT) AS n_b
      FROM ranked)
    SELECT n_a, n_b, r2_a,
           CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           ROUND((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2 -
                  CAST(n_a * n_b AS DOUBLE) / 2) /
                 SQRT(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12), 6)
             AS z_score
    FROM r2
    """,
)
def mann_whitney_u_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between urgent and low-priority
    order totals — the nonparametric two-sample test that complements
    the KS statistic. Tied values get average ranks computed exactly:
    doubled rank sums (2*below + cnt + 1 per tied block) stay integer
    until the final z-score, whose variance uses the no-tie normal
    approximation (documented; ties in o_totalprice are measure-zero).
    One grouped scan + one cumulative window over distinct values —
    rank computation without sorting the raw rows twice."""
    o = _t(spark, sf_dir, "orders")
    pool = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("grp"),
    )
    vals = pool.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("grp").alias("n_a_at_v")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "cnt",
        "n_a_at_v",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("below"),
    )
    r2 = ranked.agg(
        F.sum(
            F.col("n_a_at_v") * (2 * F.col("below") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r2_a"),
        F.sum("n_a_at_v").cast("bigint").alias("n_a"),
        F.sum(F.col("cnt") - F.col("n_a_at_v")).cast("bigint").alias("n_b"),
    )
    return r2.select(
        "n_a",
        "n_b",
        "r2_a",
        (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("bigint")
        .alias("u2_a"),
        F.round(
            (
                (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)).cast(
                    "double"
                )
                / 2
                - (F.col("n_a") * F.col("n_b")).cast("double") / 2
            )
            / F.sqrt(
                F.col("n_a").cast("double")
                * F.col("n_b")
                * (F.col("n_a") + F.col("n_b") + 1)
                / 12
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "embedding_gram_matrix",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    dims AS (
      SELECT vec_id, CAST(pos0 AS INT) AS i, val
      FROM (SELECT vec_id, unnest(qv) AS val,
                   unnest(range(0, len(qv))) AS pos0 FROM q)
      WHERE pos0 < 8),
    gram AS (
      SELECT a.i AS row_i, b.i AS col_j,
             SUM(CAST(a.val AS BIGINT) * b.val) AS dot
      FROM dims a JOIN dims b
        ON b.vec_id = a.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i)
    SELECT row_i, col_j, CAST(dot AS BIGINT) AS dot
    FROM gram ORDER BY row_i, col_j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram-matrix accumulation (X^T X — the kernel behind
    covariance, PCA, and linear-model normal equations at scale): each
    vector contributes its dimension outer product map-side, partial
    sums combine before the (i, j) shuffle, and no n x n object ever
    exists — state is d(d+1)/2 cells regardless of row count. Computed
    over the first 8 quantized dimensions (36 upper-triangle cells) in
    exact integer arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim_mod.quantize_for_kmeans(emb, "vec_id", "embedding")
    dims = (
        q.select("vec_id", F.posexplode("qv").alias("i", "val"))
        .filter(F.col("i") < 8)
        .select("vec_id", F.col("i").cast("int").alias("i"), "val")
    )
    a = dims.alias("a")
    b = dims.select(
        F.col("vec_id").alias("bv"),
        F.col("i").alias("j"),
        F.col("val").alias("bval"),
    )
    return (
        a.join(b, (F.col("bv") == F.col("a.vec_id")) & (F.col("j") >= F.col("a.i")))
        .groupBy(F.col("a.i").alias("row_i"), F.col("j").alias("col_j"))
        .agg(
            F.sum(F.col("a.val").cast("bigint") * F.col("bval"))
            .cast("bigint")
            .alias("dot")
        )
        .orderBy("row_i", "col_j")
    )


@register(
    "filtered_ann_search",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                              [CAST(x AS DOUBLE) FOR x IN e.embedding]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN q.q_vec],
                                    [CAST(x AS DOUBLE) FOR x IN q.q_vec])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN e.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN e.embedding])))
               AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id AND e.label = q.label)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cosine FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def filtered_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k neighbors restricted to candidates
    sharing the probe's metadata label, the constraint that breaks naive
    post-filtering ANN (filter first, then rank: pre-filtering keeps k
    results guaranteed; post-filtering an unfiltered top-k can return
    fewer than k). Implemented as the IVF path with the label predicate
    pushed INTO the candidate scan; nprobe = all lists keeps the oracle
    exhaustive so the filtered ranking itself is what's verified."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cand = emb.join(
        F.broadcast(qs),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = sim_mod.cosine(F.col("qv"), F.col("embedding"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


@register(
    "label_noise_knn_audit",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS id, a.label AS lab, b.vec_id AS nid,
             b.label AS nlab,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN a.embedding],
                              [CAST(x AS DOUBLE) FOR x IN b.embedding]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN a.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN a.embedding])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN b.embedding],
                                    [CAST(x AS DOUBLE) FOR x IN b.embedding])))
               AS cos
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
    knn AS (
      SELECT id, lab, nlab FROM (
        SELECT id, lab, nlab,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY cos DESC, nid) AS rk
        FROM pairs) WHERE rk <= 5),
    votes AS (
      SELECT id, lab, nlab, COUNT(*) AS c FROM knn GROUP BY id, lab, nlab),
    majority AS (
      SELECT id, lab, nlab AS pred FROM (
        SELECT id, lab, nlab,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY c DESC, nlab) AS rk
        FROM votes) WHERE rk = 1)
    SELECT lab AS label,
           COUNT(*) AS n_points,
           CAST(SUM(CASE WHEN pred <> lab THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suspect,
           ROUND(CAST(SUM(CASE WHEN pred <> lab THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS noise_rate
    FROM majority GROUP BY lab ORDER BY label
    """,
)
def label_noise_knn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by neighborhood consensus: every point
    whose 5-NN majority label (deterministic tiebreaks on both ranks)
    disagrees with its own label is a relabel/review candidate — the
    data-curation audit run before training on human labels. Exact kNN
    here (the oracle needs the full ranking); at corpus scale the
    candidate set comes from the LSH/IVF index instead of the cross
    join, same consensus logic."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lab"),
        F.col("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlab"),
        F.col("embedding").alias("vb"),
    )
    pairs = a.join(b, F.col("nid") != F.col("id")).select(
        "id",
        "lab",
        "nid",
        "nlab",
        sim_mod.cosine(F.col("va"), F.col("vb")).alias("cos"),
    )
    wk = Window.partitionBy("id").orderBy(F.desc("cos"), "nid")
    knn = (
        pairs.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("id", "lab", "nlab")
    )
    votes = knn.groupBy("id", "lab", "nlab").agg(
        F.count(F.lit(1)).alias("c")
    )
    wm = Window.partitionBy("id").orderBy(F.desc("c"), "nlab")
    majority = (
        votes.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("id", "lab", F.col("nlab").alias("pred"))
    )
    return (
        majority.groupBy(F.col("lab").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.when(F.col("pred") != F.col("lab"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_suspect"),
            F.round(
                F.sum(
                    F.when(F.col("pred") != F.col("lab"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("noise_rate"),
        )
        .orderBy("label")
    )


@register(
    "embedding_isotropy_score",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    pairs AS (
      SELECT a.vec_id, a.embedding AS va, b.embedding AS vb
      FROM embeddings a
      JOIN embeddings b
        ON b.vec_id = (a.vec_id + (SELECT n // 2 FROM n)) % (SELECT n FROM n)
      WHERE a.vec_id < (SELECT n // 2 FROM n)),
    cos AS (
      SELECT vec_id,
             list_dot_product([CAST(x AS DOUBLE) FOR x IN va],
                              [CAST(x AS DOUBLE) FOR x IN vb]) /
             (sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN va],
                                    [CAST(x AS DOUBLE) FOR x IN va])) *
              sqrt(list_dot_product([CAST(x AS DOUBLE) FOR x IN vb],
                                    [CAST(x AS DOUBLE) FOR x IN vb])))
               AS c
      FROM pairs)
    SELECT COUNT(*) AS n_pairs,
           ROUND(list_reduce(list(c ORDER BY vec_id), (a, b) -> a + b) /
                 COUNT(*), 6) AS mean_offdiag_cosine,
           ROUND(MAX(c), 6) AS max_pair_cosine,
           ROUND(MIN(c), 6) AS min_pair_cosine
    FROM cos
    """,
)
def embedding_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy screen: the mean cosine between
    deterministically paired unrelated vectors (i with i + n/2) — an
    isotropic space centers this near zero; a large positive mean is
    the anisotropy cone that degrades cosine retrieval and motivates
    whitening. Cosines fold in id order so the mean is order-exact;
    min/max bracket the spread."""
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    half = n // 2
    a = emb.select(
        "vec_id", F.col("embedding").alias("va")
    ).filter(F.col("vec_id") < half)
    b = emb.select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("vb")
    )
    pairs = a.join(
        b, F.col("bid") == (F.col("vec_id") + half) % n
    )
    cos = pairs.select(
        "vec_id", sim_mod.cosine(F.col("va"), F.col("vb")).alias("c")
    )
    return cos.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(vec_id, c))), "
                "cast(0 as double), (acc, e) -> acc + e.c)"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mean_offdiag_cosine"),
        F.round(F.max("c"), 6).alias("max_pair_cosine"),
        F.round(F.min("c"), 6).alias("min_pair_cosine"),
    )


@register(
    "knn_shapley_data_values",
    oracle="""
    WITH test AS (
      SELECT vec_id AS tid, embedding AS tv, label AS ty
      FROM embeddings WHERE vec_id < 5),
    train AS (
      SELECT vec_id AS nid, embedding AS nv, label AS ny
      FROM embeddings WHERE vec_id >= 5),
    pairs AS (
      SELECT t.tid, t.ty, r.nid, r.ny,
             list_reduce([(CAST(t.tv[i] AS DOUBLE) - CAST(r.nv[i] AS DOUBLE))
                          * (CAST(t.tv[i] AS DOUBLE) - CAST(r.nv[i] AS DOUBLE))
                          FOR i IN range(1, len(t.tv)+1)],
                         (acc, x) -> acc + x) AS sqd,
             CASE WHEN r.ny = t.ty THEN 1 ELSE 0 END AS m
      FROM test t CROSS JOIN train r),
    ranked AS (
      SELECT tid, nid, ny, m,
             ROW_NUMBER() OVER (PARTITION BY tid ORDER BY sqd, nid) AS j,
             COUNT(*) OVER (PARTITION BY tid) AS nn,
             LEAD(m) OVER (PARTITION BY tid ORDER BY sqd, nid) AS m_next
      FROM pairs),
    terms AS (
      SELECT tid, nid, ny, m, j, nn,
             CASE WHEN j = nn THEN CAST(m AS DOUBLE) / CAST(nn AS DOUBLE)
                  ELSE CAST(m - m_next AS DOUBLE) / CAST(j AS DOUBLE)
             END AS term
      FROM ranked),
    shap AS (
      SELECT tid, nid, ny, m, j,
             SUM(term) OVER (PARTITION BY tid ORDER BY j DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s
      FROM terms)
    SELECT tid AS test_id, nid AS train_id, CAST(ny AS INT) AS train_label,
           CAST(m AS INT) AS label_match, ROUND(s, 6) AS shapley
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
                     ORDER BY s DESC, nid) AS rk FROM shap)
    WHERE rk <= 10
    ORDER BY test_id, shapley DESC, train_id
    """,
)
def knn_shapley_data_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN Shapley data valuation (Jia et al., PVLDB'19): for each
    probe point, every training point's exact Shapley contribution to
    1-NN accuracy via the closed-form recursion s_k = s_{k+1} +
    (m_k - m_{k+1})/k over the distance ranking — computed here as a
    suffix sum (descending-rank running window), NO O(2^n) enumeration
    and no recursion. Top-10 most valuable training points per probe.
    This is the principled "which examples are worth keeping" signal for
    training-data curation; distances fold left-to-right so both engines
    produce bit-identical doubles. Scale shape: probes broadcast, one
    window over the per-probe ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("tv"),
        F.col("label").alias("ty"),
    )
    train = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        F.col("label").alias("ny"),
    )
    sqd = F.aggregate(
        F.zip_with(
            F.col("tv"),
            F.col("nv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = train.crossJoin(F.broadcast(test)).select(
        "tid",
        "ty",
        "nid",
        "ny",
        sqd.alias("sqd"),
        F.when(F.col("ny") == F.col("ty"), 1).otherwise(0).alias("m"),
    )
    wj = Window.partitionBy("tid").orderBy("sqd", "nid")
    wp = Window.partitionBy("tid")
    ranked = pairs.select(
        "tid",
        "nid",
        "ny",
        "m",
        F.row_number().over(wj).alias("j"),
        F.count(F.lit(1)).over(wp).alias("nn"),
        F.lead("m").over(wj).alias("m_next"),
    )
    terms = ranked.select(
        "tid",
        "nid",
        "ny",
        "m",
        "j",
        F.when(
            F.col("j") == F.col("nn"),
            F.col("m").cast("double") / F.col("nn").cast("double"),
        )
        .otherwise(
            (F.col("m") - F.col("m_next")).cast("double")
            / F.col("j").cast("double")
        )
        .alias("term"),
    )
    ws = (
        Window.partitionBy("tid")
        .orderBy(F.desc("j"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shap = terms.select(
        "tid", "nid", "ny", "m", "j", F.sum("term").over(ws).alias("s")
    )
    wr = Window.partitionBy("tid").orderBy(F.desc("s"), "nid")
    return (
        shap.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select(
            F.col("tid").alias("test_id"),
            F.col("nid").alias("train_id"),
            F.col("ny").cast("int").alias("train_label"),
            F.col("m").cast("int").alias("label_match"),
            F.round("s", 6).alias("shapley"),
        )
        .orderBy("test_id", F.desc("shapley"), "train_id")
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.d > a.d),
    s AS (SELECT COALESCE(SUM(sgn), 0) AS s, COUNT(*) AS npairs FROM pairs),
    n AS (SELECT COUNT(*) AS n FROM daily),
    ties AS (
      SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev HAVING COUNT(*) > 1)),
    var AS (
      SELECT (CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE)
              * CAST(2 * n.n + 5 AS DOUBLE)
              - CAST(ties.tie_term AS DOUBLE)) / CAST(18 AS DOUBLE) AS v,
             n.n
      FROM n, ties)
    SELECT CAST(n AS BIGINT) AS n_days, CAST(s.s AS BIGINT) AS s_statistic,
           ROUND(v.v, 6) AS var_s,
           ROUND(CASE WHEN s.s > 0 THEN (CAST(s.s AS DOUBLE) - 1) / SQRT(v.v)
                      WHEN s.s < 0 THEN (CAST(s.s AS DOUBLE) + 1) / SQRT(v.v)
                      ELSE CAST(0 AS DOUBLE) END, 6) AS z,
           CASE WHEN s.s > 0 THEN 'increasing'
                WHEN s.s < 0 THEN 'decreasing' ELSE 'no trend' END
             AS direction
    FROM s, var v
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on daily revenue: S = Σ
    sign(rev_j − rev_i) over all day pairs i<j, tie-corrected variance
    n(n-1)(2n+5)/18 − Σt(t-1)(2t+5)/18, and the continuity-corrected z.
    Revenue stays DECIMAL so sign comparisons are exact; the pair join
    is over the DAILY series (30 rows — aggregate first, THEN go
    quadratic on the tiny series: the only sane order at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    daily = op_cache.reuse(daily)
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("rb") > F.col("ra"), 1)
        .when(F.col("rb") < F.col("ra"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(F.coalesce(F.sum("sgn"), F.lit(0)).alias("s"))
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = n.crossJoin(F.broadcast(ties)).select(
        (
            (
                d("n")
                * (F.col("n") - 1).cast("double")
                * (2 * F.col("n") + 5).cast("double")
                - d("tie_term")
            )
            / F.lit(18).cast("double")
        ).alias("v"),
        "n",
    )
    z_expr = (
        F.when(F.col("s") > 0, (d("s") - 1) / F.sqrt(F.col("v")))
        .when(F.col("s") < 0, (d("s") + 1) / F.sqrt(F.col("v")))
        .otherwise(F.lit(0.0))
    )
    return (
        s.crossJoin(F.broadcast(var))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s").cast("bigint").alias("s_statistic"),
            F.round("v", 6).alias("var_s"),
            F.round(z_expr, 6).alias("z"),
            F.when(F.col("s") > 0, "increasing")
            .when(F.col("s") < 0, "decreasing")
            .otherwise("no trend")
            .alias("direction"),
        )
    )


@register(
    "knn_learning_curve",
    oracle="""
    WITH test AS (
      SELECT vec_id AS tid, embedding AS tv, label AS ty
      FROM embeddings WHERE vec_id < 20),
    train AS (
      SELECT vec_id AS nid, embedding AS nv, label AS ny,
             CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 4 AS bucket
      FROM embeddings WHERE vec_id >= 20),
    fracs AS (SELECT unnest([1, 2, 4]) AS nb),
    pairs AS (
      SELECT f.nb, t.tid, t.ty, r.nid, r.ny,
             list_reduce([(CAST(t.tv[i] AS DOUBLE) - CAST(r.nv[i] AS DOUBLE))
                          * (CAST(t.tv[i] AS DOUBLE) - CAST(r.nv[i] AS DOUBLE))
                          FOR i IN range(1, len(t.tv)+1)],
                         (acc, x) -> acc + x) AS sqd
      FROM fracs f
      JOIN train r ON r.bucket < f.nb
      CROSS JOIN test t),
    nearest AS (
      SELECT nb, tid, ty, ny FROM (
        SELECT nb, tid, ty, ny,
               ROW_NUMBER() OVER (PARTITION BY nb, tid
                                  ORDER BY sqd, nid) AS rn
        FROM pairs) WHERE rn = 1),
    acc AS (
      SELECT nb, COUNT(*) AS n_test,
             SUM(CASE WHEN ny = ty THEN 1 ELSE 0 END) AS correct
      FROM nearest GROUP BY nb),
    sizes AS (
      SELECT f.nb, COUNT(*) AS n_train
      FROM fracs f JOIN train r ON r.bucket < f.nb
      GROUP BY f.nb)
    SELECT a.nb AS buckets_used, CAST(s.n_train AS BIGINT) AS n_train,
           CAST(a.n_test AS BIGINT) AS n_test,
           CAST(a.correct AS BIGINT) AS correct,
           ROUND(CAST(a.correct AS DOUBLE) / CAST(a.n_test AS DOUBLE), 6)
             AS accuracy
    FROM acc a JOIN sizes s ON s.nb = a.nb
    ORDER BY buckets_used
    """,
)
def knn_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN accuracy learning curve over nested training subsets: the
    training pool splits into 4 deterministic md5 buckets, and accuracy
    on 20 probes is measured with 1, 2, then 4 buckets (¼, ½, all of
    the data) — the empirical "does more data still help" curve that
    motivates every scaling-law fit, with nesting guaranteed by the
    bucket-prefix construction. Probes broadcast against each subset;
    one ranking window per (subset, probe)."""
    emb = _t(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("tv"),
        F.col("label").alias("ty"),
    )
    train = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        F.col("label").alias("ny"),
        F.expr(
            "CAST(conv(substring(md5(CAST(vec_id AS STRING)),1,15),16,10) "
            "AS BIGINT) % 4"
        ).alias("bucket"),
    )
    train = op_cache.reuse(train)
    fracs = spark.createDataFrame([(1,), (2,), (4,)], "nb int")
    sqd = F.aggregate(
        F.zip_with(
            F.col("tv"),
            F.col("nv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        fracs.join(train, F.col("bucket") < F.col("nb"))
        .crossJoin(F.broadcast(test))
        .select("nb", "tid", "ty", "nid", "ny", sqd.alias("sqd"))
    )
    wr = Window.partitionBy("nb", "tid").orderBy("sqd", "nid")
    nearest = (
        pairs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("nb", "tid", "ty", "ny")
    )
    acc = nearest.groupBy("nb").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.when(F.col("ny") == F.col("ty"), 1).otherwise(0)).alias(
            "correct"
        ),
    )
    sizes = (
        fracs.join(train, F.col("bucket") < F.col("nb"))
        .groupBy("nb")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    return (
        acc.join(sizes, "nb")
        .select(
            F.col("nb").alias("buckets_used"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_test").cast("bigint").alias("n_test"),
            F.col("correct").cast("bigint").alias("correct"),
            F.round(
                F.col("correct").cast("double") / F.col("n_test").cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("buckets_used")
    )


@register(
    "knn_label_homophily",
    oracle="""
    WITH pts AS (
      SELECT vec_id, embedding, label FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS src, a.label AS la, b.vec_id AS dst,
             b.label AS lb,
             list_reduce([(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                          * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                          FOR i IN range(1, len(a.embedding)+1)],
                         (acc, x) -> acc + x) AS sqd
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id),
    knn AS (
      SELECT src, la, lb FROM (
        SELECT src, la, lb,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY sqd, dst) AS rn
        FROM pairs) WHERE rn <= 5),
    obs AS (
      SELECT COUNT(*) AS n_edges,
             SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS same
      FROM knn),
    freq AS (
      SELECT label, COUNT(*) AS c FROM pts GROUP BY label),
    tot AS (SELECT SUM(c) AS n FROM freq),
    expected AS (
      SELECT list_reduce(list(
               (CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * (CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
               ORDER BY label), (a, b) -> a + b) AS e
      FROM freq, tot GROUP BY tot.n)
    SELECT CAST(o.n_edges AS BIGINT) AS n_edges,
           CAST(o.same AS BIGINT) AS same_label_edges,
           ROUND(CAST(o.same AS DOUBLE) / CAST(o.n_edges AS DOUBLE), 6)
             AS observed_homophily,
           ROUND(e.e, 6) AS expected_if_random,
           ROUND(CAST(o.same AS DOUBLE) / CAST(o.n_edges AS DOUBLE) / e.e, 6)
             AS homophily_lift
    FROM obs o, expected e
    """,
)
def knn_label_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label homophily of the 5-NN embedding graph: the fraction of
    nearest-neighbor edges whose endpoints share a label, against the
    Σp² expected under random mixing, and their ratio — the one-number
    check that embeddings actually cluster by label (homophily lift ≈1
    means the space carries no label signal; ≫1 near-duplicate leakage
    across splits becomes a risk). The all-pairs scorer is the honest
    small-probe baseline; at corpus scale the edge list comes from
    lsh/ivf candidates and the homophily arithmetic is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("va"),
        F.col("label").alias("la"),
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("vb"),
        F.col("label").alias("lb"),
    )
    sqd = F.aggregate(
        F.zip_with(
            F.col("va"),
            F.col("vb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, F.col("src") != F.col("dst")).select(
        "src", "la", "dst", "lb", sqd.alias("sqd")
    )
    wr = Window.partitionBy("src").orderBy("sqd", "dst")
    knn = (
        pairs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("la", "lb")
    )
    obs = knn.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)).alias(
            "same"
        ),
    )
    freq = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    expected = (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "label",
            (
                (F.col("c").cast("double") / F.col("n").cast("double"))
                * (F.col("c").cast("double") / F.col("n").cast("double"))
            ).alias("p2"),
        )
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(label, p2))), "
                "cast(0 as double), (acc, e) -> acc + e.p2)"
            ).alias("e")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return obs.crossJoin(F.broadcast(expected)).select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("same").cast("bigint").alias("same_label_edges"),
        F.round(d("same") / d("n_edges"), 6).alias("observed_homophily"),
        F.round("e", 6).alias("expected_if_random"),
        F.round(d("same") / d("n_edges") / F.col("e"), 6).alias(
            "homophily_lift"
        ),
    )


__all__ = [
    'similarity_bruteforce_q',
    'similarity_lsh_q',
    'embedding_quantize_int8',
    'embedding_centroid_assign',
    'text_tfidf_top_terms',
    'similarity_ivf_q',
    'embedding_random_projection',
    'tfidf_cosine_pairs_q',
    'kmeans_lloyd_iteration',
    'kmeans_lloyd_3rounds',
    'embedding_dimension_stats',
    'knn_label_classifier',
    'embedding_pq_assign',
    'similarity_lsh_recall_eval',
    'embedding_semantic_clusters',
    'embedding_matryoshka_error',
    'similarity_ivf_list_balance',
    'embedding_power_iteration_pc1',
    'embedding_pq_adc_recall',
    'trajectory_similarity_topk',
    'embedding_centroid_drift',
    'similarity_ivfpq_search',
    'mann_whitney_u_orders',
    'embedding_gram_matrix',
    'filtered_ann_search',
    'label_noise_knn_audit',
    'embedding_isotropy_score',
    'knn_shapley_data_values',
    'mann_kendall_trend',
    'knn_learning_curve',
    'knn_label_homophily',
]
